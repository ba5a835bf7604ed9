package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.features.{Features, Segmentation}
import graft.operators.{AsOfJoin, IntervalJoin}
import graft.sources.{FileIndex, HdrSource, RoiSource, Sinks}
import graft.functions.Geo

/** The §3.2 scheduled incremental ingest-and-QC job (reference:
  * `code/ifcb_ingest_and_qc.R:86-529`) composed end-to-end from the
  * library's operators — the most-run job of the production deployment:
  *
  *  1. bin inventory + size/empty gate with a dead-letter side
  *     (R:113-141 skip >0.5 GB + log, R:190-197 empty bins);
  *  2. blacklist regex matching (R:86-110) — skip flagging, never
  *     silent drops;
  *  3. new-bin detection by anti-join against already-processed bins
  *     (R:173-181, :490-493);
  *  4. cruise attachment via the interval join (R:217-221) with the
  *     R-faithful `SVEA_<year>_<no>` label (R:255, `paste0` turns a
  *     missing number into the literal "NA");
  *  5. HDR GPS with the 10-minute fix-staleness gate (R:265-287),
  *     ferrybox as-of fallback within 5 minutes (R:300-340), provenance
  *     comment (R:357-359), `-999` for position-less bins (R:362-364);
  *  6. basin tagging (R:385-387) and the dashboard-metadata contract row
  *     (R:373-388: pid, latitude, longitude, depth, qc_bad, skip,
  *     sample_type, cruise, tag, comment), blacklist skip rows appended
  *     (R:390-406), already-commented suppression against a dashboard
  *     snapshot (R:412-422);
  *  7. feature extraction over new bins only (R:436-448) through the
  *     [[graft.features.Features]] kernel;
  *  8. PSD µm histogram + power-law fit + QC flags over the extracted
  *     `EquivDiameter` with the reference's `micron_factor` pixel→µm
  *     scaling (R:495-518), appended idempotently (R:521-528).
  *
  * Plan shape at scale: the file index is a parallel `binaryFile`
  * listing; blacklist/cruise/ferrybox dims broadcast; the one heavy
  * stage (the kernel) is partition-local mapPartitions; PSD is a single
  * hash aggregation per (sample, µm-bin) then per sample. No stage
  * collects to the driver, so the job runs unchanged over a day or a
  * decade of bins.
  */
object IngestQc {

  /** Knobs, with the reference's production values as defaults. */
  final case class Config(
      rawDir: String,
      maxBinBytes: Long = 512L * 1024 * 1024, // R: size_threshold (0.5 GB)
      gpsMaxFixAgeMin: Long = 10,             // R:282-285
      ferryboxToleranceSec: Long = 300,       // R:308 max_time_diff_min = 5
      micronFactor: Double = 1.0 / 2.77,      // R:516
      psdStartFitUm: Double = 15.0,           // R:507 start_fit
      psdFlagParams: graft.agg.PsdFit.FlagParams =
        graft.agg.PsdFit.FlagParams(),        // R:508-515 threshold set
      depthM: Double = 4.0,                   // R:379
      sampleType: String = "underway",        // R:384
      cruisePrefix: String = "SVEA")          // R:255

  /** The job's output frames — all lazy until written. */
  final case class Frames(
      metadata: DataFrame,   // dashboard-metadata contract (R:388 column set)
      features: DataFrame,   // slim kernel features for NEW bins, keyed (sample, roi_number)
      psdData: DataFrame,    // (sample, esd_um, n) µm histogram, long form
      psdFits: DataFrame,    // (sample, slope, intercept, r2, n_bins)
      psdFlags: DataFrame,   // (sample, flag)
      deadLetter: DataFrame) // gated-out files + reason (R's skip log)

  /** Inventory of `.roi` bins under `rawDir`, split into (clean, dead)
    * by the empty/oversize gate.
    */
  def binIndex(spark: SparkSession, cfg: Config): (DataFrame, DataFrame) =
    FileIndex.sizeGate(
      FileIndex.list(spark, cfg.rawDir, "*.roi"), cfg.maxBinBytes)

  /** Samples whose file name matches any blacklist pattern (R:106-110 —
    * patterns are regexes OR-ed over the path). Blacklist is a dim:
    * broadcast non-equi semi join, the index never shuffles.
    */
  def blacklistedSamples(index: DataFrame, blacklist: DataFrame): DataFrame =
    index
      .join(broadcast(blacklist.select(col("sample").as("__pat"))),
        expr("filename RLIKE __pat"), "left_semi")
      .select("sample").distinct()

  /** Cruise attachment (R:217-221, 249-256): bin timestamp ∈ cruise
    * interval via the J4 interval join, an optional SVEPA snapshot fill
    * for bins the intervals miss (R:223-253 — see
    * [[graft.sources.SvepaSnapshot]]), then the `SVEA_<year>_<no>`
    * label — `paste0` in R renders a missing cruise number as the
    * literal "NA", reproduced faithfully.
    */
  def withCruise(binTimes: DataFrame, cruises: DataFrame, cfg: Config,
      svepa: Option[DataFrame] = None): DataFrame = {
    val joined = IntervalJoin.contains(
      binTimes, cruises, "datetime", "startdate", "stopdate",
      joinType = "left", maxReplication = None)
    // ONE cruise per bin (round-12 review): overlapping cruise
    // intervals — or a bin exactly on an inclusive stop==start boundary
    // — matched twice and duplicated the pid row in the pid-keyed
    // metadata. Deterministic resolution: the most recently STARTED
    // containing cruise wins (the voyage the instrument is currently
    // on), ties to the smallest cruise_no; unmatched left rows carry a
    // single null-cruise row and pass through the rank untouched.
    val cruisePick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sample"))
      .orderBy(col("startdate").desc_nulls_last, col("cruise_no").asc_nulls_last)
    val resolved = joined
      .withColumn("__rk", row_number().over(cruisePick))
      .filter(col("__rk") === 1)
      .drop("__rk")
    val filled = svepa.fold(resolved)(
      graft.sources.SvepaSnapshot.resolveCruiseNo(resolved, _))
    filled
      .withColumn("cruise",
        concat(lit(cfg.cruisePrefix), lit("_"), year(col("datetime")),
          lit("_"), coalesce(col("cruise_no").cast("string"), lit("NA"))))
      .drop("startdate", "stopdate", "cruise_no")
  }

  /** HDR GPS positions with the fix-staleness gate (R:265-287): a fix
    * older than `gpsMaxFixAgeMin` relative to the sample timestamp
    * nulls the coordinates. `gpsTimeFromFix` is the instrument's
    * `Mon/dd/yyyy HH:mm:ss[.SSS]` text format (R:279-281).
    */
  def hdrPositions(spark: SparkSession, cfg: Config): DataFrame = {
    val hdr = HdrSource.read(spark, s"${cfg.rawDir}/*.hdr",
      stringKeys = Seq("gpsTimeFromFix"),
      numericKeys = Seq("gpsLatitude", "gpsLongitude"))
    val fixTs = coalesce(
      // try_: under ANSI a malformed fix string must read as "fix age
      // unknown" (null -> stale -> coords nulled), not crash the job
      try_to_timestamp(col("gpsTimeFromFix"), lit("MMM/dd/yyyy HH:mm:ss.SSS")),
      try_to_timestamp(col("gpsTimeFromFix"), lit("MMM/dd/yyyy HH:mm:ss")))
    // R's `ifelse(NA, NA, coord)` returns NA: an absent or unparseable
    // fix time must NULL the coordinates (fix age unknown = unverified),
    // not keep them — hence the coalesce to true on a null staleness
    val stale = coalesce(
      abs(unix_micros(fixTs) - unix_micros(col("timestamp"))) >
        cfg.gpsMaxFixAgeMin * 60L * 1000000L,
      lit(true))
    hdr
      .withColumn("gpsLatitude",
        when(stale, lit(null).cast("double")).otherwise(col("gpsLatitude")))
      .withColumn("gpsLongitude",
        when(stale, lit(null).cast("double")).otherwise(col("gpsLongitude")))
      .drop("gpsTimeFromFix")
  }

  /** Ferrybox position fallback (R:300-368): nearest ferrybox record
    * within tolerance fills missing HDR GPS (J2 left join + coalesce
    * over the J3 as-of match); filled rows get the provenance comment
    * (R:359); rows with no position from either source get `-999`
    * (R:362-364).
    *
    * @param ferrybox (timestamp, latitude, longitude)
    */
  def withFerryboxFallback(
      positions: DataFrame, ferrybox: DataFrame, cfg: Config): DataFrame = {
    val matched = AsOfJoin.nearest(
      positions, ferrybox, on = Nil,
      leftTs = "timestamp", rightTs = "timestamp",
      toleranceSec = cfg.ferryboxToleranceSec,
      leftId = Seq("sample"), rightPrefix = "fb_", joinType = "left")
    matched
      .withColumn("comment",
        when(col("gpsLatitude").isNull && col("fb_latitude").isNotNull,
          "GPS location originates from ferrybox data"))
      .withColumn("latitude", coalesce(col("gpsLatitude"), col("fb_latitude")))
      .withColumn("longitude", coalesce(col("gpsLongitude"), col("fb_longitude")))
      .withColumn("latitude", coalesce(col("latitude"), lit(-999.0)))
      .withColumn("longitude", coalesce(col("longitude"), lit(-999.0)))
      .select("sample", "timestamp", "latitude", "longitude", "comment")
  }

  /** The dashboard-metadata contract frame (R:373-428). The spine is
    * `cruised` (already the bin-times frame joined through the cruise
    * lookup — see the [[run]] wiring), so no separate bin-times input.
    */
  def dashboardMetadata(
      cruised: DataFrame,
      positions: DataFrame,
      blacklisted: DataFrame,
      blacklist: DataFrame,
      deadSamples: DataFrame,
      balticBasin: Seq[(Double, Double)],
      currentMetadata: Option[DataFrame],
      cfg: Config): DataFrame = {
    val inBaltic = Geo.pointInPolygon(balticBasin)
    val base = cruised
      .withColumnRenamed("sample", "pid")
      .join(positions.withColumnRenamed("sample", "pid").drop("timestamp"),
        Seq("pid"), "left")
      // a bin with NO .hdr has no positions row: the -999 fill inside
      // withFerryboxFallback never saw it, so fill here too or the tag
      // logic below reads null as "not -999" and mis-tags the bin
      // skagerrak_kattegat instead of missing_position (R:362-364)
      .withColumn("latitude", coalesce(col("latitude"), lit(-999.0)))
      .withColumn("longitude", coalesce(col("longitude"), lit(-999.0)))
      .join(broadcast(blacklisted.select(col("sample").as("pid"))
        .withColumn("__bl", lit(true))), Seq("pid"), "left")
      .withColumn("depth", lit(cfg.depthM))
      .withColumn("qc_bad", lit(null).cast("boolean")) // R:382 qc_bad = NA
      .withColumn("skip", coalesce(col("__bl"), lit(false)))
      .withColumn("sample_type", lit(cfg.sampleType))
      .withColumn("tag",
        when(col("latitude") === -999.0, "missing_position")
          .when(inBaltic(col("latitude"), col("longitude")), "baltic")
          .otherwise("skagerrak_kattegat"))
      .select("pid", "latitude", "longitude", "depth", "qc_bad", "skip",
        "sample_type", "cruise", "tag", "comment")

    // R:390-401: blacklisted exact bin ids + size-gated bins appear as
    // skip rows (qc_bad = TRUE) unless already present
    // R:392-393 keeps only entries that look like bin ids (its ^D<year>
    // filter); a general regex pattern (e.g. an instrument-wide rule or
    // a day-level ^D\d{8}$ pattern, which this positive match already
    // excludes) must not be emitted verbatim as a junk pid row
    // the bin-id shape filter applies to BOTH branches (round-13
    // review): an oversize file with no IFCB id in its name
    // dead-letters with sample="" and would otherwise write a junk
    // qc_bad pid="" row into the metadata every run — the id-less
    // class the round-12 no_sample_id gate covers on the clean side
    val skipIds = blacklist.select(col("sample").as("pid"))
      .unionByName(deadSamples.select(col("sample").as("pid")))
      .filter(col("pid").rlike("^D\\d{8}T\\d{6}"))
      .distinct()
      .join(base.select("pid"), Seq("pid"), "left_anti")
      .withColumn("latitude", lit(null).cast("double"))
      .withColumn("longitude", lit(null).cast("double"))
      .withColumn("depth", lit(cfg.depthM))
      .withColumn("qc_bad", lit(true))
      .withColumn("skip", lit(true))
      .withColumn("sample_type", lit(cfg.sampleType))
      .withColumn("cruise", lit(null).cast("string"))
      .withColumn("tag", lit(null).cast("string"))
      .withColumn("comment", lit(null).cast("string"))

    // R:404-406: day-level blacklist patterns never become rows
    val all = base.unionByName(skipIds).filter(!col("pid").rlike("^D\\d{8}$"))

    // R:412-422: suppress the ferrybox comment for pids the dashboard
    // already carries it on (snapshot via sources.DashboardSnapshot)
    currentMetadata match {
      case None => all
      case Some(cur) =>
        val commented = cur
          .filter(col("comment_summary")
            .contains("GPS location originates from ferrybox data"))
          .select(col("pid")).withColumn("__seen", lit(true))
        all.join(broadcast(commented), Seq("pid"), "left")
          .withColumn("comment",
            when(col("__seen"), lit(null).cast("string")).otherwise(col("comment")))
          .drop("__seen")
    }
  }

  /** Kernel feature extraction for the given bins (R:436-448), keyed by
    * (sample, roi_number) — partition-local, shuffle-free.
    */
  def extractFeatures(spark: SparkSession, cfg: Config, bins: DataFrame): DataFrame = {
    import spark.implicits._
    // semi-join the ADC to the bins under processing BEFORE the slice:
    // RoiSource's strict truncation guard must only ever see rows of
    // bins this job actually processes — a corrupt ADC inside a
    // dead-lettered or blacklisted bin must not abort the run
    val adc = RoiSource.readAdc(spark, s"${cfg.rawDir}/*.adc")
      .join(broadcast(bins.select("sample")), Seq("sample"), "left_semi")
    // incremental scan discipline (round-12 review): a glob load of
    // rawDir reads EVERY historical .roi payload before any join can
    // prune — a decade-deep archive pays full-corpus I/O for one new
    // bin. When the bins frame carries the file paths (run()'s
    // incremental branch), the binary scan is restricted to exactly
    // those files; the path list is O(new bins) driver-side by
    // construction. The ADC residual glob above is text at ~1/1000 the
    // payload volume and its rows are pruned by the semi-join.
    val roiFiles =
      if (bins.columns.contains("path")) {
        val paths = bins.select("path").distinct()
          .as[String].collect().sorted
        if (paths.isEmpty)
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            featuresStateSchema)
        spark.read.format("binaryFile").load(paths: _*)
      } else
        // no raw-directory glob fallback (round-13 review): a glob
        // bypasses binIndex's size gate, reading dead-lettered
        // oversize/blacklisted payloads (and crashing outright past
        // binaryFile's 2 GB limit) — callers must pass gated paths
        throw new IllegalArgumentException(
          "extractFeatures requires a 'path' column (size-gated by binIndex)")
    val images = RoiSource.images(adc, roiFiles)
      .select($"sample", $"roi_number", $"width", $"height", $"pixels")
      .as[(String, Int, Int, Int, Array[Byte])]
      // few CPU-heavy rows per file split: spread across all cores
      .repartition(spark.sparkContext.defaultParallelism)
    val rows = images.mapPartitions { it =>
      it.map { case (sample, roiNo, w, h, bytes) =>
        (sample, roiNo,
          Features.computeFromRoi(roiNo.toLong, Segmentation.Gray(h, w,
            graft.multimodal.Media.grayPixels(bytes, w, h))))
      }
    }.toDF("sample", "roi_number", "f")
    // "roi_id", the case-class field's actual name — the filter was a
    // dead "roiId" for eleven rounds, silently keeping a column that
    // duplicates roi_number in both this output and the state schema
    // below (round-12 review; old persisted state still reads — the
    // extra parquet column just prunes away)
    rows.select(col("sample") +: col("roi_number") +:
      rows.schema("f").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.filter(_ != "roi_id").map(n => col(s"f.$n").as(n)).toSeq: _*)
  }

  /** PSD over kernel output (R:495-518): ESD µm = `EquivDiameter` px ×
    * `micron_factor`, 1-µm histogram per sample, ln-ln power-law fit
    * from `psdStartFitUm` upward, then the reference's full 7-threshold
    * flag rule set ([[graft.agg.PsdFit.flags7]], `ifcb_psd` thresholds at
    * R:505-516) over fit + histogram shape + the per-sample instrument
    * metrics. Everything is two hash aggregations at (sample, µm-bin)
    * then sample grain — the peak size class rides the same per-sample
    * aggregate as the totals via an exact integer (count, −bin) encoding,
    * no window sort.
    *
    * @param sampleMetrics optional per-sample instrument metrics
    *        `(sample, trigger_count, ml_analyzed, humidity)` — see
    *        [[sampleMetrics]]. Absent frame or null metric disables the
    *        corresponding rules (missing-cells / volume-incomplete /
    *        low-biomass / humidity), it never fires them.
    */
  def psd(features: DataFrame, cfg: Config,
      sampleMetrics: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    import graft.agg.PsdFit
    val data = features
      .withColumn("esd_um",
        floor(col("EquivDiameter") * cfg.micronFactor).cast("int"))
      .groupBy(col("sample"), col("esd_um"))
      .agg(count(lit(1)).as("n"))
    val mid = col("esd_um") + lit(0.5)
    // n is a groupBy count, always >= 1 — the old `n > 0` conjunct was
    // dead and implied an impossible zero-count row (round-12 review)
    val fitRows = data.filter(mid >= cfg.psdStartFitUm)
    val moments = PsdFit.moments(log(mid), log(col("n")))
    val fitted = fitRows.groupBy(col("sample"))
      .agg(moments.head._2.as(moments.head._1),
        moments.tail.map { case (n, c) => c.as(n) }: _*)
    val (slope, intercept, r2) = PsdFit.solveCols(
      col("fit_n"), col("fit_sx"), col("fit_sy"),
      col("fit_sxx"), col("fit_sxy"), col("fit_syy"))
    // totals + argmax size class in ONE aggregate: max of the exact
    // integer encoding n·10⁶ + (10⁶−1−bin) is (max n, then smallest bin)
    // — deterministic tie-break, and no second shuffle or window
    val enc = col("n") * 1000000L + (lit(999999L) - col("esd_um"))
    val totals = data.groupBy(col("sample")).agg(
      sum(col("n")).as("total_n"), max(enc).as("__pk"))
      .withColumn("peak_n", floor(col("__pk") / 1000000L))
      .withColumn("peak_esd_um",
        (lit(999999L) - pmod(col("__pk"), lit(1000000L))).cast("double") + 0.5)
      .drop("__pk")
    val fits = totals
      .join(fitted, Seq("sample"), "left")
      .select(col("sample"),
        slope.as("slope"), intercept.as("intercept"), r2.as("r2"),
        coalesce(col("fit_n"), lit(0L)).as("n_bins"),
        col("total_n"), col("peak_n"), col("peak_esd_um"))
    val withMetrics = sampleMetrics match {
      case Some(m) => fits.join(broadcast(m), Seq("sample"), "left")
      case None => fits
        .withColumn("trigger_count", lit(null).cast("long"))
        .withColumn("ml_analyzed", lit(null).cast("double"))
        .withColumn("humidity", lit(null).cast("double"))
    }
    val flags = withMetrics.select(col("sample"),
      PsdFit.flags7(cfg.psdFlagParams, cfg.psdStartFitUm)(
        col("r2"), col("peak_esd_um"), col("peak_n"),
        col("total_n"), col("trigger_count"),
        col("ml_analyzed"), col("humidity")).as("flag"))
    (data, fits.select("sample", "slope", "intercept", "r2", "n_bins"), flags)
  }

  /** Per-sample instrument metrics feeding the volume / missing-cells /
    * humidity PSD rules: ADC trigger inventory (one row per trigger) and
    * the HDR's runtime/inhibittime/humidity keys. Analyzed volume uses
    * the published IFCB formula — 0.25 mL/min sample flow over the
    * non-inhibited runtime (the `ifcb_volume_analyzed` convention iRfcb
    * inherits from the Sosik MATLAB tooling). HDRs that lack the keys
    * yield nulls, which [[graft.agg.PsdFit.flags7]] treats as
    * rule-disabled.
    */
  def sampleMetrics(spark: SparkSession, cfg: Config,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    // `restrictTo` (binsToPsd in run()) prunes the file list to the new
    // bins, so a scheduled run reads O(new bins) of .adc and .hdr: one
    // key collect, one listing of the raw dir, split by extension.
    // hdrPositions' full scan stays by design (positions cover the whole
    // metadata spine).
    val restricted: Option[Map[String, Seq[String]]] = restrictTo.map { samples =>
      val keep = samples.select(col("sample").cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      val re = HdrSource.SampleIdPattern.r
      graft.sources.FileIndex.list(spark, cfg.rawDir, "*.{adc,hdr}")
        .select("path").collect().map(_.getString(0))
        .filter(p => re.findFirstMatchIn(p).exists(m => keep(m.group(1))))
        .sorted.toSeq.groupBy(p => p.substring(p.lastIndexOf('.') + 1))
    }
    /** `read` over the restricted `ext` files, or over the whole archive
      * glob; an empty frame of `ddl` when the restriction holds none.
      */
    def readExt(ext: String, ddl: String)(read: Seq[String] => DataFrame): DataFrame =
      restricted match {
        case None => read(Seq(s"${cfg.rawDir}/*.$ext"))
        case Some(byExt) => byExt.get(ext).map(read).getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl)))
      }
    val triggers = readExt("adc", "sample STRING, trigger_count BIGINT") { ps =>
      RoiSource.readAdc(spark, ps)
        .groupBy(col("sample")).agg(count(lit(1)).as("trigger_count"))
    }
    val hdr = readExt("hdr", "sample STRING, ml_analyzed DOUBLE, humidity DOUBLE") { ps =>
      HdrSource.read(spark, ps, stringKeys = Nil,
          numericKeys = Seq("runTime", "inhibitTime", "humidity"))
        .select(col("sample"),
          (lit(0.25) * (col("runTime") - coalesce(col("inhibitTime"), lit(0.0)))
            / 60.0).as("ml_analyzed"),
          col("humidity"))
    }
    triggers.join(hdr, Seq("sample"), "full_outer")
  }

  /** One incremental run, all frames lazy. Processed-state inputs are
    * the previously written outputs (or None on first run); `ferrybox`,
    * `cruises`, `blacklist` are small dims.
    */
  def run(
      spark: SparkSession,
      cfg: Config,
      blacklist: DataFrame,
      cruises: DataFrame,
      ferrybox: DataFrame,
      balticBasin: Seq[(Double, Double)],
      existingFeatures: Option[DataFrame] = None,
      existingPsdSamples: Option[DataFrame] = None,
      currentMetadata: Option[DataFrame] = None,
      svepa: Option[DataFrame] = None): Frames = {
    val (clean0, dead0) = binIndex(spark, cfg)
    // id-less files (no IFCB sample id in the name) can never join
    // HDR/ADC/ROI content and have no pid: without this gate they all
    // collapsed into ONE chimera pid="" metadata row with null cruise,
    // re-written every run (round-12 review). HdrSource/RoiSource
    // already drop them at their own scans; here they dead-letter with
    // their own reason so the drop is visible, not silent.
    val clean1 = clean0.filter(col("sample").isNotNull && col("sample") =!= "")
    // second gate (round-12 review): an id that matches the shape but
    // encodes an invalid date (month 13) has no timestamp — it can
    // never cruise-join or window; dead-letter it with its own reason
    // instead of crashing the run (strict to_timestamp under ANSI) or
    // flowing a null datetime into the metadata spine
    val parseable = HdrSource.toTimestampFromSampleId(col("sample")).isNotNull
    val clean = clean1.filter(parseable)
    val dead = dead0.unionByName(
      clean0.filter(col("sample").isNull || col("sample") === "")
        .withColumn("reason", lit("no_sample_id")))
      .unionByName(clean1.filter(!parseable)
        .withColumn("reason", lit("bad_sample_date")))
    val blacklisted = blacklistedSamples(clean, blacklist)
    val candidates = clean.select("sample").distinct()
      .join(blacklisted, Seq("sample"), "left_anti")

    // metadata spine covers every clean bin (R builds bin_times over all
    // roi_bins; blacklisted ones carry skip = TRUE)
    val binTimes = clean.select(col("sample"), HdrSource
      .toTimestampFromSampleId(col("sample")).as("datetime")).distinct()
    val cruised = withCruise(binTimes, cruises, cfg, svepa)
    val positions = withFerryboxFallback(hdrPositions(spark, cfg), ferrybox, cfg)
    // oversize-only, matching the reference contract: empty bins are
    // silently removed from metadata (R:193-196) — their trace is the
    // dead-letter frame (`Frames.dead`), which carries both reasons
    val metadata = dashboardMetadata(
      cruised, positions, blacklisted, blacklist,
      dead.filter(col("reason") === "oversize"), balticBasin,
      currentMetadata, cfg)

    // feature extraction: new, non-blacklisted bins only (R:181,436).
    // The incremental branch attaches each bin's .roi path so the
    // binary scan loads ONLY new files (round-12 review — the glob
    // scan read the whole archive's payloads every scheduled run); the
    // first run processes everything anyway, where the glob is exact.
    // BOTH branches attach the size-gated .roi paths (round-13 review):
    // the first-run glob fallback re-read every .roi in rawDir,
    // including the dead-lettered oversize bins the 0.5 GB gate exists
    // to skip — a >2 GB bin even crashes the binaryFile scan outright
    val binsToProcess = existingFeatures.fold(
      candidates.join(clean.select(col("sample"), col("path")), Seq("sample")))(e =>
      FileIndex.newFiles(candidates, e.select("sample"))
        .join(clean.select(col("sample"), col("path")), Seq("sample")))
    val feats = extractFeatures(spark, cfg, binsToProcess)

    // PSD: bins not yet PSD-processed (R:490-493); consumes this run's
    // features plus previously extracted ones so a bin featurized in an
    // earlier run still gets its PSD
    val allFeats = existingFeatures.fold(feats)(e =>
      e.select(feats.columns.map(col): _*).unionByName(feats))
    val binsToPsd = existingPsdSamples.fold(candidates)(e =>
      FileIndex.newFiles(candidates, e.select("sample")))
    val (psdData, psdFits, psdFlags) = psd(
      allFeats.join(broadcast(binsToPsd.select("sample")), Seq("sample"), "left_semi"),
      cfg, sampleMetrics = Some(
        sampleMetrics(spark, cfg, restrictTo = Some(binsToPsd.select("sample")))))

    Frames(metadata, feats, psdData, psdFits, psdFlags, dead)
  }

  /** Persist one run's frames under `outDir`: metadata overwritten
    * (R:425-427), features/PSD appended idempotently keyed by sample
    * (R:521-528 + the K3 anti-join semantics).
    */
  /** @param preRead state frames ALREADY read (and schema-validated) by
    *                 the caller this run, keyed by state name
    *                 ("features", "psd_fits", …) — [[runIncremental]]
    *                 passes its pinned-schema reads through so the
    *                 append keys come from the validated frames instead
    *                 of a second lenient re-read of the same CSVs
    *                 (round-12 review: duplicate full-state I/O per
    *                 scheduled run, and the write-side keys bypassed
    *                 the drifted-state fail-loudly contract)
    */
  def write(frames: Frames, outDir: String,
      preRead: Map[String, DataFrame] = Map.empty): Unit = {
    val spark = frames.metadata.sparkSession
    def existing(name: String): Option[DataFrame] = preRead.get(name).orElse {
      val path = s"$outDir/$name"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).nonEmpty)
        Some(spark.read.option("header", "true").csv(path))
      else None
    }
    frames.metadata.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("nullValue", "").option("emptyValue", "")
      .csv(s"$outDir/metadata")
    // persist the skip log (round-14 review): the dead-letter frame —
    // R's own skip log (R:113-141, 190-197) — was returned to callers
    // but the scheduled/streaming deployment dropped it on the floor,
    // so an empty or oversize bin left no durable trace. Idempotent
    // append keyed by path: a file's verdict is stable across re-runs.
    Sinks.appendNew(frames.deadLetter.select(col("path"), col("reason")),
      existing("dead_letter").map(_.select(col("path"))),
      Seq("path"), s"$outDir/dead_letter")
    // the kernel output feeds FOUR independent actions below (its own
    // append + the three PSD frames via allFeats); without a cache the
    // partition-local feature kernel — the job's one heavy stage —
    // re-executes for each of them
    graft.Frames.scoped { s =>
      s.cache(frames.features)
      s.cache(frames.psdData)
      Sinks.appendNew(frames.features, existing("features"),
        Seq("sample"), s"$outDir/features")
      Sinks.appendNew(frames.psdData, existing("psd_data"),
        Seq("sample"), s"$outDir/psd_data")
      Sinks.appendNew(frames.psdFits, existing("psd_fits"),
        Seq("sample"), s"$outDir/psd_fits")
      Sinks.appendNew(frames.psdFlags, existing("psd_flags"),
        Seq("sample"), s"$outDir/psd_flags")
    }
  }

  /** Streaming deployment (§2.9): the file-source stream watches
    * `rawDir` for new `.roi` bins and drives [[runIncremental]] through
    * `foreachBatch`. Exactly-once comes from two independent layers —
    * the checkpointed source offsets, and the idempotent anti-join
    * sinks — so a crashed batch replays safely. `Trigger.AvailableNow`
    * makes one scheduled invocation process everything outstanding and
    * stop: the reference's cron shape (ifcb_ingest_and_qc.R:1-2) with
    * streaming bookkeeping.
    */
  def stream(
      spark: SparkSession,
      cfg: Config,
      blacklist: DataFrame,
      cruises: DataFrame,
      ferrybox: DataFrame,
      balticBasin: Seq[(Double, Double)],
      outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    // the TRIGGER watches *.hdr as text, NOT *.roi as binaryFile
    // (round-14 review): binaryFile silently omits 0-byte files, so a
    // new EMPTY bin — the exact case the empty-bin dead-letter gate
    // exists for (R:190-197) — never produced a batch and was never
    // dead-lettered until some unrelated file arrived. Every bin ships
    // an .hdr (small text; the reference's own new-bin detection scans
    // hdr listings), the text source tracks 0-byte files too, and
    // runIncremental does its own FileIndex discovery — the batch is
    // only a trigger, so foreachBatch runs unconditionally (an empty
    // micro-batch still means newly-tracked files).
    spark.readStream
      .format("text")
      .option("pathGlobFilter", "*.hdr")
      .load(cfg.rawDir)
      .select(lit(1).as("tick")) // content pruned: the batch is only a trigger
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) =>
        runIncremental(spark, cfg, blacklist, cruises, ferrybox,
          balticBasin, outDir)
        ()
      }
      .start()
  }

  /** The daily entrypoint: read processed state from `outDir`, run
    * incrementally, persist. Running it twice over unchanged input is a
    * no-op on the appended sinks.
    */
  /** Pinned schemas for the on-disk state re-reads. An `inferSchema`
    * round-trip would adopt whatever a drifted or hand-edited state file
    * happens to look like, and the damage would surface downstream as
    * silent anti-join misses (bins re-processed or skipped) or a union
    * type error far from the cause. The features schema is derived from
    * the same [[Features.FeatureRow]] the extractor writes — one source
    * of truth, not a copied column list.
    */
  private[jobs] val featuresStateSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      StructField("sample", StringType) +: StructField("roi_number", IntegerType) +:
        org.apache.spark.sql.Encoders.product[Features.FeatureRow].schema.fields
          .filterNot(_.name == "roi_id").toSeq) // keep in sync with extractFeatures
  }

  private[jobs] val psdFitsStateSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "sample STRING, slope DOUBLE, intercept DOUBLE, r2 DOUBLE, n_bins BIGINT")

  private[jobs] val psdDataStateSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "sample STRING, esd_um DOUBLE, n BIGINT")

  private[jobs] val psdFlagsStateSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "sample STRING, flag STRING")

  def runIncremental(
      spark: SparkSession,
      cfg: Config,
      blacklist: DataFrame,
      cruises: DataFrame,
      ferrybox: DataFrame,
      balticBasin: Seq[(Double, Double)],
      outDir: String,
      currentMetadata: Option[DataFrame] = None): Frames = {
    // FAILFAST + enforceSchema=false: a drifted column type fails the
    // read loudly, and a renamed/reordered header fails the name check —
    // neither degrades into silently-null join keys. The validation scan
    // (`foreach`) forces EVERY column through the parser once: the
    // downstream plans project only `sample`, and the CSV reader's
    // column pruning would otherwise never parse — hence never catch —
    // a drifted value in an unprojected column. One extra pass over the
    // CSV state per scheduled run; the state is the job's own bounded
    // output, not the 100 TB fact side.
    def existing(path: String,
        schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
        val df = spark.read.option("header", "true")
          .option("mode", "FAILFAST")
          .option("enforceSchema", "false")
          .schema(schema).csv(path)
        df.foreach(_ => ())
        Some(df)
      } else None
    }
    val exFeatures = existing(s"$outDir/features", featuresStateSchema)
    val exPsdFits = existing(s"$outDir/psd_fits", psdFitsStateSchema)
    // psd_data/psd_flags too (round-13 review): the round-12 pass-through
    // covered only features/psd_fits, so these two appends still paid a
    // second lenient full-state scan per run AND their anti-join keys
    // bypassed the drifted-state fail-loudly contract above
    val exPsdData = existing(s"$outDir/psd_data", psdDataStateSchema)
    val exPsdFlags = existing(s"$outDir/psd_flags", psdFlagsStateSchema)
    val frames = run(spark, cfg, blacklist, cruises, ferrybox, balticBasin,
      existingFeatures = exFeatures,
      existingPsdSamples = exPsdFits,
      currentMetadata = currentMetadata)
    // pass the validated reads through — write() must not re-read the
    // same state leniently for its append keys (round-12 review)
    write(frames, outDir,
      preRead = (exFeatures.map("features" -> _) ++
        exPsdFits.map("psd_fits" -> _) ++
        exPsdData.map("psd_data" -> _) ++
        exPsdFlags.map("psd_flags" -> _)).toMap)
    frames
  }
}
