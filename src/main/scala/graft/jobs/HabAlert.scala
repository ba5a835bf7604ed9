package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.agg.Biovolume

/** The daily HAB-alert job (reference: `code/ifcb_hab_alert.R:21-299,410`)
  * composed end-to-end: biovolume/carbon rollup → HAB dim join → A4
  * per-taxon max-concentration sample → A7 bloom carbon bands → alert
  * predicate → rendered HTML notification.
  *
  * Plan shape: one grouped rollup shuffle; the HAB/warning dims are tiny
  * and broadcast; the per-taxon top-1 is a key-partitioned window (never
  * a global sort); rendering collects only one row per HAB taxon plus
  * per-sample bloom bands for the day — bounded regardless of ROI count.
  * The notification side effect runs through `foreachBatch`
  * ([[graft.streaming.Streams.notifySink]]) in the streaming deployment.
  */
object HabAlert {

  final case class Config(
      dashboardBase: String = "https://ifcb-dashboard-utv.smhi.se",
      dataset: String = "RV_Svea",
      minorBloomUgC: Double = 40.0,   // R:126-131 case_when bands
      bloomUgC: Double = 70.0,
      majorBloomUgC: Double = 120.0,
      // mail endpoints (R: ifcb_email / emails config lines); the SMTP
      // server itself lives in the injected Mailer transport
      mailFrom: String = "ifcb-pipeline@localhost",
      recipients: Seq[String] = Nil,
      bawsRecipients: Seq[String] = Nil)

  /** Per-(sample, class) biovolume rollup with per-liter scaling — the
    * `ifcb_summarize_biovolumes` output columns the alert consumes
    * (counts, counts_per_liter, carbon_ug_per_liter).
    *
    * @param roi       (sample, class_name, vol_um3, is_diatom) per-ROI rows
    * @param sampleDim (sample, ml_analyzed)
    */
  def biovolumes(roi: DataFrame, sampleDim: DataFrame): DataFrame =
    roi
      .withColumn("carbon_pg",
        Biovolume.carbonPg(col("is_diatom"), col("vol_um3")))
      .groupBy(col("sample"), col("class_name"))
      .agg(
        count(lit(1)).as("counts"),
        sum(col("vol_um3")).as("biovolume_um3"),
        sum(col("carbon_pg")).as("carbon_pg"))
      .join(broadcast(sampleDim), Seq("sample"), "left")
      .withColumn("counts_per_liter",
        Biovolume.perLiter(col("counts"), col("ml_analyzed")))
      // pg/ml → µg/L: ÷1e6 (pg→µg) × 1000 (ml→L)
      .withColumn("carbon_ug_per_liter",
        Biovolume.perLiter(col("carbon_pg") / 1e6, col("ml_analyzed")))

  /** A4: per-HAB-taxon max-concentration sample (R:106-119
    * `slice_max(n = 1, with_ties = FALSE)` — deterministic tie-break on
    * sample id).
    *
    * @param biovol   [[biovolumes]] output
    * @param classDim (class_name, aphia_id, class_clean, worms_phylum)
    * @param habDim   (aphia_id, warning_level) — HAB taxa only
    */
  def maxCounts(
      biovol: DataFrame, classDim: DataFrame, habDim: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("aphia_id"))
      .orderBy(col("counts_per_liter").desc, col("sample").asc)
    // one inner join does both halves of the old semi-then-left pair:
    // habDim is keyed by aphia_id, so the inner join restricts to HAB
    // taxa AND carries warning_level through the window in one branch
    biovol
      .join(broadcast(classDim), Seq("class_name"))
      .join(broadcast(habDim), Seq("aphia_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(
        col("aphia_id"), col("class_clean"), col("sample"), col("counts"),
        // bround, not round: the reference rounds BEFORE the alert
        // comparison (ifcb_hab_alert.R:118,152 -> :197,217 compare the
        // already-rounded value — bug-compatible by design), and R's
        // round() is half-EVEN: Spark's half-up round() would fire an
        // alert at exactly warning_level + 0.5 that the reference does
        // not (round-14 review; the q36 bround discipline)
        bround(col("counts_per_liter")).cast("long").as("counts_per_liter"),
        col("warning_level"))
      .orderBy(col("class_clean"))
  }

  /** A7: per-sample total carbon + bloom band (R:121-136). */
  def biomassBands(biovol: DataFrame, cfg: Config): DataFrame =
    biovol
      .groupBy(col("sample"))
      .agg(sum(coalesce(col("carbon_ug_per_liter"), lit(0.0))).as("total_carbon"))
      .withColumn("bloom_category",
        when(col("total_carbon") > cfg.majorBloomUgC, "Major bloom")
          .when(col("total_carbon") >= cfg.bloomUgC, "Bloom")
          .when(col("total_carbon") >= cfg.minorBloomUgC, "Minor bloom")
          .otherwise("No bloom"))

  /** Cyanobacteria counterpart of [[maxCounts]] (R:138-153). */
  def cyanoCounts(
      biovol: DataFrame, classDim: DataFrame, habDim: DataFrame): DataFrame = {
    // partition by aphia_id INCLUDING the null group: classes lacking an
    // aphia mapping collapse into one group and only the max-count one
    // survives — deliberate parity, the reference's
    // `group_by(aphia_id) %>% slice_max(n = 1)` (ifcb_hab_alert.R:141-142)
    // groups NA keys identically in dplyr (round-12 review: checked, not
    // a bug; map classes in the dim if per-class rows are wanted)
    val w = Window.partitionBy(col("aphia_id"))
      .orderBy(col("counts_per_liter").desc, col("sample").asc)
    biovol
      .join(broadcast(classDim), Seq("class_name"))
      .filter(col("worms_phylum") === "Cyanobacteria")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(broadcast(habDim), Seq("aphia_id"), "left")
      .select(
        col("aphia_id"), col("class_clean"), col("sample"), col("counts"),
        bround(col("counts_per_liter")).cast("long") // half-even, see above
          .as("counts_per_liter"),
        col("warning_level"))
      .orderBy(col("class_clean"))
  }

  /** The alert predicate (R:197-200, 217): concentration exceeds a
    * configured warning level.
    */
  def alertCol: Column =
    col("warning_level").isNotNull &&
      col("counts_per_liter") > col("warning_level")

  /** Renders the daily notification HTML (R:208-289): per-taxon table
    * with dashboard links and red alert rows, plus the bloom notice
    * block when any sample reached bloom level. Collects only the
    * bounded summary frames.
    */
  /** Dashboard bin link, HTML-escaped (round-13 review: class names
    * and ids interpolated into alert mail unescaped — a real taxa name
    * like "Chaetoceros <10 µm" reads as an unclosed tag and swallows
    * the rest of the row; [[graft.sources.Svg.escape]] is the shared
    * escaper Reports/Charts/Maps already use).
    */
  private def esc(v: Any): String =
    graft.sources.Svg.escape(if (v == null) "" else v.toString)

  private def binLink(cfg: Config, sample: String): String =
    s"""<a href="${cfg.dashboardBase}/timeline?dataset=${cfg.dataset}&amp;bin=${esc(sample)}">${esc(sample)}</a>"""

  def emailHtml(
      maxCountRows: DataFrame, biomass: DataFrame, dateString: String,
      cfg: Config = Config()): String = {

    val blooms = biomass.filter(col("bloom_category") =!= "No bloom")
      .orderBy(col("total_carbon").desc).collect()
    val bloomNotice =
      if (blooms.isEmpty) ""
      else {
        val top = blooms.head
        val cat = top.getAs[String]("bloom_category")
        val carbon = BigDecimal(top.getAs[Double]("total_carbon"))
          .setScale(1, BigDecimal.RoundingMode.HALF_UP)
        s"""<p style="background-color:#ffcccc;font-weight:bold;padding:8px;">""" +
          s"${blooms.length} sample(s) reached bloom level. " +
          s"Highest particle carbon: $carbon &micro;g C/L (${esc(cat)}) in sample " +
          binLink(cfg, top.getAs[String]("sample")) + ".</p>"
      }

    val rows = maxCountRows.withColumn("alert", alertCol).collect().map { r =>
      val style =
        if (r.getAs[Boolean]("alert"))
          """ style="background-color:#ffcccc;font-weight:bold;""""
        else ""
      val warn = Option(r.getAs[Any]("warning_level")).map(_.toString).getOrElse("")
      s"<tr$style>" +
        s"<td>${esc(r.getAs[Any]("aphia_id"))}</td>" +
        s"<td>${esc(r.getAs[String]("class_clean"))}</td>" +
        s"<td>${binLink(cfg, r.getAs[String]("sample"))}</td>" +
        s"<td>${r.getAs[Any]("counts")}</td>" +
        s"<td>${r.getAs[Any]("counts_per_liter")}</td>" +
        s"<td>${esc(warn)}</td></tr>"
    }.mkString("\n")

    s"""<html><body><p>Hej,</p>$bloomNotice
       |<p>The table below summarizes the maximum observed abundance for each
       |HAB taxon during $dateString.</p>
       |<table border="1" cellpadding="5" cellspacing="0">
       |<tr><th>Aphia ID</th><th>Scientific name</th><th>Sample</th>
       |<th>Images</th><th>Counts/L</th><th>Warning level</th></tr>
       |$rows
       |</table>
       |<p>Rows highlighted in red indicate that the observed concentration
       |exceeded the configured warning level.</p></body></html>""".stripMargin
  }

  /** Filamentous cyanobacteria of particular bloom/toxin concern
    * (R:329): always highlighted green in the BAWS table.
    */
  val PrioritySpecies: Seq[String] =
    Seq("Aphanizomenon flosaquae", "Nodularia spumigena", "Dolichospermum")

  /** BAWS seasonal send gate (R:410-411): May 1 through October 31. */
  def bawsInSeason(dateString: String): Boolean = {
    val monthDay = dateString.substring(5) // yyyy-MM-dd → MM-dd
    monthDay >= "05-01" && monthDay <= "10-31"
  }

  /** Renders the BAWS notification HTML (R:331-408): cyano table sorted
    * priority-first then alphabetical, red rows for exceeded warning
    * levels, green rows for [[PrioritySpecies]]; no warning-level
    * column.
    */
  def bawsHtml(
      cyano: DataFrame, dateString: String, cfg: Config = Config()): String = {
    val rows = cyano
      .withColumn("alert", alertCol)
      .withColumn("is_priority", col("class_clean").isin(PrioritySpecies: _*))
      .orderBy(col("is_priority").desc, col("class_clean").asc)
      .collect()
      .map { r =>
        val style =
          if (r.getAs[Boolean]("alert"))
            """ style="background-color:#ffcccc;font-weight:bold;""""
          else if (r.getAs[Boolean]("is_priority"))
            """ style="background-color:#d4edda;color:#155724;font-weight:bold;""""
          else ""
        s"<tr$style>" +
          s"<td>${esc(r.getAs[Any]("aphia_id"))}</td>" +
          s"<td>${esc(r.getAs[String]("class_clean"))}</td>" +
          s"<td>${binLink(cfg, r.getAs[String]("sample"))}</td>" +
          s"<td>${r.getAs[Any]("counts")}</td>" +
          s"<td>${r.getAs[Any]("counts_per_liter")}</td></tr>"
      }.mkString("\n")
    s"""<html><body><p>Hej,</p>
       |<p>The table below summarizes the maximum observed abundance of each
       |cyanobacterial taxon on $dateString.</p>
       |<table border="1" cellpadding="5" cellspacing="0">
       |<tr><th>Aphia ID</th><th>Scientific name</th><th>Sample</th>
       |<th>Images</th><th>Counts/L</th></tr>
       |$rows
       |</table>
       |<p style="font-size:0.9em;color:#155724;">Rows highlighted in green
       |indicate filamentous cyanobacteria of particular concern for bloom
       |formation and toxin production.</p></body></html>""".stripMargin
  }

  /** One daily run: frames + subjects + rendered bodies. The HAB table
    * drives the ALERT vs Summary subject (R:202-206); the BAWS branch
    * has its own cyano-based predicate (R:318-327) and the seasonal
    * send gate (R:410-411).
    */
  final case class Result(
      maxCounts: DataFrame, biomass: DataFrame, cyano: DataFrame,
      warningDetected: Boolean, subject: String, html: String,
      bawsWarningDetected: Boolean, bawsSubject: String, bawsHtml: String,
      bawsSendToday: Boolean) {
    /** Unpersists the run's cached frames — call once the result's
      * frames are consumed.
      */
    def release(): Unit = graft.Frames.release(maxCounts, biomass, cyano)
  }

  def runDaily(
      roi: DataFrame, sampleDim: DataFrame, classDim: DataFrame,
      habDim: DataFrame, dateString: String, cfg: Config = Config()): Result = {
    // the run drives several independent actions over these frames (two
    // alert-predicate probes, the render collects, whatever the caller
    // does with Result) — without caching each action re-runs the ROI
    // rollup shuffle and the top-1 windows from the raw scan. biovol is
    // the shared upstream, released on return; the three result frames
    // are day-sized and kept for the caller, who releases them via
    // Result.release (a failed probe or render releases them too).
    graft.Frames.scoped { s =>
      val biovol = s.cache(biovolumes(roi, sampleDim))
      val mc = s.keep(maxCounts(biovol, classDim, habDim))
      val bands = s.keep(biomassBands(biovol, cfg))
      val cy = s.keep(cyanoCounts(biovol, classDim, habDim))
      val warning = !mc.filter(alertCol).isEmpty
      val subject =
        if (warning) s"IFCB HAB ALERT - $dateString"
        else s"IFCB HAB Summary - $dateString"
      val cyWarning = !cy.filter(alertCol).isEmpty
      val bawsSubject =
        if (cyWarning) s"IFCB BAWS ALERT - $dateString"
        else s"IFCB BAWS Summary - $dateString"
      Result(mc, bands, cy, warning, subject,
        emailHtml(mc, bands, dateString, cfg),
        cyWarning, bawsSubject, bawsHtml(cy, dateString, cfg),
        bawsInSeason(dateString))
    }
  }

  /** Delivery step (R:292-299 and :404-415): the HAB mail goes out every
    * day — ALERT or Summary subject per [[Result.warningDetected]] — and
    * the BAWS mail only inside the May–October season gate. Exactly one
    * send per list per day; rendering already happened in [[runDaily]],
    * so this touches no frame.
    */
  def deliver(result: Result, mailer: graft.sources.Mailer,
      cfg: Config = Config()): Unit = {
    mailer.send(cfg.mailFrom, cfg.recipients, result.subject, result.html)
    if (result.bawsSendToday)
      mailer.send(cfg.mailFrom, cfg.bawsRecipients,
        result.bawsSubject, result.bawsHtml)
  }
}
