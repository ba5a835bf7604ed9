package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.jobs.IngestQc
import graft.queries.FeatureExtract
import graft.sources.HdrSource

/** `ifcb_feed`: the daily IFCB ingest+QC delivery. Setup backfills a
  * seeded synthetic archive and processes it once; op `i` lands
  * delivery `i` (a few new bins, written as hdr/adc/roi trios) and runs
  * one `IngestQc.runIncremental` over the growing archive. Item = ROI
  * of a bin the run must featurize.
  *
  * The outputs accumulate, so they are checked once at the end against
  * what every delivery planted: feature rows per bin, one `psd_fits` row
  * per processed sample, one metadata row per bin, dead-letter reasons,
  * and a final re-run that must append nothing.
  *
  * Traced ops first probe the layers one public call at a time on the
  * new delivery, then run the same `runIncremental` call as an untraced
  * op; its Spark jobs are split by the graft file whose action started
  * them (state reads in `IngestQc`, appends in `Sinks`).
  */
final class IfcbFeed(ctx: Ctx) extends Workload {
  import IfcbGen._
  private val spark = ctx.spark
  private val raw = ctx.work.resolve("ifcb").resolve("raw")
  private val out = ctx.work.resolve("ifcb").resolve("out")
  private val gen = new IfcbGen(ctx.seed, binsPerDelivery = if (ctx.tiny) 2 else 3,
    maxRois = if (ctx.tiny) 4 else 10)
  private val backfill = if (ctx.tiny) 2 else 20
  private val cfg = IngestQc.Config(rawDir = raw.toString,
    maxBinBytes = MaxBinBytes, psdStartFitUm = 2.0)

  private lazy val blacklist = {
    import spark.implicits._
    Seq(BlacklistedInstrument, PhantomBlacklisted).toDF("sample")
  }
  private lazy val cruises = {
    import spark.implicits._
    gen.cruises.toDF("cruise_no", "startdate", "stopdate")
  }
  private lazy val ferrybox = {
    import spark.implicits._
    gen.ferrybox.toDF("timestamp", "latitude", "longitude")
  }
  private val baltic = Seq((55.0, 14.0), (58.0, 14.0), (58.0, 20.0), (55.0, 20.0))

  /** every bin landed so far, with the delivery (op index) that landed it */
  private val landed = mutable.ArrayBuffer.empty[(Bin, Int)]

  def warmupOps: Int = if (ctx.tiny) 1 else 4
  def replayable: Boolean = false

  private def land(d: Int): Seq[Bin] = {
    val bins = gen.delivery(d)
    bins.foreach(b => writeBin(raw, b))
    landed ++= bins.map(_ -> d)
    bins
  }

  private def runIncremental(): Unit =
    IngestQc.runIncremental(spark, cfg, blacklist, cruises, ferrybox, baltic, out.toString)

  def setup(): Unit = {
    Files.createDirectories(raw)
    (-backfill until 0).foreach(land)
    runIncremental()
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private val probeCounts = mutable.HashMap.empty[Int, (Long, Long)] // files listed, rois

  def op(i: Int): Outcome = {
    val bins = land(i)
    val tr = ctx.trace
    if (tr.recording) tr.span("probe") {
      val (clean, dead) = tr.span("sources.index") {
        val (c, d) = IngestQc.binIndex(spark, cfg)
        val (cp, dp) = (c.persist(), d.persist())
        probeCounts(i) = (cp.count() + dp.count(), 0L)
        (cp, dp)
      }
      val positions = tr.span("sources.hdr") {
        val p = IngestQc.hdrPositions(spark, cfg).persist(); noop(p); p
      }
      val binTimes = clean.select(col("sample"),
        HdrSource.toTimestampFromSampleId(col("sample")).as("datetime")).distinct()
      tr.span("operators.cruise")(noop(IngestQc.withCruise(binTimes, cruises, cfg)))
      tr.span("operators.ferrybox")(noop(IngestQc.withFerryboxFallback(positions, ferrybox, cfg)))
      val fresh = bins.filter(_.processed).map(_.id)
      val feats = tr.span("features.extract") {
        val f = IngestQc.extractFeatures(spark, cfg,
          clean.filter(col("sample").isin(fresh: _*)).select("sample", "path")).persist()
        probeCounts(i) = (probeCounts(i)._1, f.count())
        f
      }
      tr.span("agg.psd") {
        val (d, fits, flags) = IngestQc.psd(feats, cfg)
        noop(d); noop(fits); noop(flags)
      }
      Seq(clean, dead, positions, feats).foreach(_.unpersist(blocking = false))
    }
    tr.span("run")(runIncremental())
    Outcome(bins.filter(_.processed).map(_.rois.toLong).sum, ok = true)
  }

  override def finalCheck(): Seq[(Int, String)] = {
    val bad = mutable.ArrayBuffer.empty[(Int, String)]
    val byId = landed.map { case (b, d) => b.id -> d }.toMap
    val lastOp = landed.last._2
    def read(name: String): DataFrame =
      spark.read.option("header", "true").csv(out.resolve(name).toString)

    // feature rows per bin: every processed bin's ROIs, nothing else
    val wantRois = landed.collect { case (b, _) if b.processed => b.id -> b.rois.toLong }.toMap
    val gotRois = read("features").groupBy("sample").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perturbed = if (ctx.perturb) wantRois.updated(wantRois.keys.max, -1L) else wantRois
    (perturbed.keySet ++ gotRois.keySet).foreach { s =>
      if (perturbed.get(s) != gotRois.get(s))
        bad += byId.getOrElse(s, lastOp) -> s"features of $s: ${gotRois.get(s)} rows, planted ${perturbed.get(s)}"
    }
    // one psd_fits row per processed sample
    val fits = read("psd_fits").groupBy("sample").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (wantRois.keySet ++ fits.keySet).foreach { s =>
      if (!fits.get(s).contains(1L) || !wantRois.contains(s))
        bad += byId.getOrElse(s, lastOp) -> s"psd_fits rows of $s: ${fits.get(s)}"
    }
    // one metadata row per bin that is not empty, plus the phantom skip row
    val wantPids = landed.collect { case (b, _) if b.kind != Empty => b.id }.toSet + PhantomBlacklisted
    val pids = read("metadata").groupBy("pid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (wantPids ++ pids.keySet).foreach { p =>
      if (!pids.get(p).contains(1L) || !wantPids.contains(p))
        bad += byId.getOrElse(p, lastOp) -> s"metadata rows of $p: ${pids.get(p)}"
    }
    // dead letters: exactly the planted empty and oversize bins
    val wantDead = landed.collect {
      case (b, _) if b.kind == Empty => b.id -> "empty"
      case (b, _) if b.kind == Oversize => b.id -> "oversize"
    }.toSet
    val gotDead = read("dead_letter").collect().map { r =>
      val f = r.getAs[String]("path")
      f.substring(f.lastIndexOf('/') + 1).stripSuffix(".roi") -> r.getAs[String]("reason")
    }.toSet
    (wantDead diff gotDead).foreach { case (s, why) =>
      bad += byId.getOrElse(s, lastOp) -> s"dead letter missing: $s $why" }
    (gotDead diff wantDead).foreach { case (s, why) =>
      bad += byId.getOrElse(s, lastOp) -> s"unexpected dead letter: $s $why" }
    // re-running the last delivery appends nothing
    val sinks = Seq("features", "psd_data", "psd_fits", "psd_flags", "dead_letter")
    val before = sinks.map(n => read(n).count())
    runIncremental()
    val after = sinks.map(n => read(n).count())
    if (before != after)
      bad += lastOp -> s"re-run appended rows: ${sinks.zip(before.zip(after)).mkString(" ")}"
    bad.toSeq
  }

  override def layerMetrics(ops: Seq[Trace.Span]): Map[String, Double] = {
    val tr = ctx.trace
    def probe(s: Trace.Span, name: String): Seq[Trace.Span] =
      tr.children(s).filter(_.name == "probe").flatMap(tr.children).filter(_.name == name)
    def med(name: String): Double =
      Stats.median(ops.map(s => probe(s, name).map(_.durMs).sum / 1000.0))
    def runJobs(s: Trace.Span) = tr.children(s).filter(_.name == "run").flatMap(tr.jobsIn)
    def stateRead(j: Trace.JobRec) = j.site.file == "IngestQc.scala" && j.site.method.contains("existing")
    def sink(j: Trace.JobRec) = j.site.file == "Sinks.scala"
    val idx = ops.map(_.name.stripPrefix("op#").toInt)
    Map(
      "sources.index_s" -> med("sources.index"),
      "sources.files_listed" -> Stats.median(idx.flatMap(probeCounts.get).map(_._1.toDouble)),
      "sources.hdr_s" -> med("sources.hdr"),
      "operators.cruise_s" -> med("operators.cruise"),
      "operators.ferrybox_s" -> med("operators.ferrybox"),
      "features.extract_s" -> med("features.extract"),
      "features.rois" -> Stats.median(idx.flatMap(probeCounts.get).map(_._2.toDouble)),
      "features.rois_per_cpu_s" -> Stats.median(ops.zip(idx).flatMap { case (s, i) =>
        val cpu = probe(s, "features.extract").flatMap(tr.jobsIn).map(_.cpuNs).sum / 1e9
        probeCounts.get(i).filter(_ => cpu > 0).map(_._2 / cpu)
      }),
      "agg.psd_s" -> med("agg.psd"),
      "sources.state_read_s" -> Stats.median(ops.map(s =>
        runJobs(s).filter(stateRead).map(_.durMs).sum / 1000.0)),
      "sources.state_rows" -> Stats.median(ops.map(s =>
        runJobs(s).filter(stateRead).map(_.inputRecords).sum.toDouble)),
      "sources.sink_s" -> Stats.median(ops.map(s =>
        runJobs(s).filter(sink).map(_.durMs).sum / 1000.0)),
      "sources.rows_appended" -> Stats.median(ops.map(s =>
        runJobs(s).filter(sink).map(_.outputRecords).sum.toDouble)))
  }
}

/** Seeded synthetic IFCB archive. Bin slot `j` is sampled at
  * 2024-06-01 00:00 UTC + 15 min × j; delivery `d` holds slots
  * `[d·n, (d+1)·n)` shifted so that backfill deliveries are negative.
  * Each bin's kind is drawn from the seed: normal (fresh GPS fix),
  * GPS-less, stale fix (30 min old), blacklisted (its instrument is a
  * blacklist pattern), oversize (past `MaxBinBytes`) or empty (0 bytes).
  * ROI images come from `FeatureExtract.renderRoi`.
  */
final class IfcbGen(seed: Long, binsPerDelivery: Int, maxRois: Int) {
  import IfcbGen._

  def delivery(d: Int): Seq[Bin] = (0 until binsPerDelivery).map { k =>
    val slot = (d + 10000) * binsPerDelivery + k
    val r = new scala.util.Random(seed * 7919L + slot)
    val u = r.nextDouble()
    val kind =
      if (u < 0.62) Normal else if (u < 0.72) GpsLess else if (u < 0.80) StaleFix
      else if (u < 0.88) Blacklisted else if (u < 0.94) Oversize else Empty
    val ts = Start.plusMinutes(15L * slot)
    val inst = if (kind == Blacklisted) BlacklistedInstrument else "IFCB134"
    val rois = kind match {
      case Oversize => OversizeRois
      case Empty => 0
      case _ => 2 + r.nextInt(maxRois - 1)
    }
    Bin(s"D${ts.format(IdFmt)}_$inst", ts, kind, rois,
      (0 until rois).map(_ => r.nextInt(1 << 20).toLong), 55.5 + r.nextDouble() * 3,
      11.0 + r.nextDouble() * 8)
  }

  private val days = 400
  /** cruise intervals: the first 20 h of every third day */
  def cruises: Seq[(String, Timestamp, Timestamp)] = (0 until days by 3).map { d =>
    (s"${d / 3 + 1}", ts(Start.plusDays(d)), ts(Start.plusDays(d).plusHours(20)))
  }
  /** ferrybox fixes every 15 min, 1 min after each slot, on even days only */
  def ferrybox: Seq[(Timestamp, Double, Double)] = {
    val r = new scala.util.Random(seed)
    (0 until days * 96).filter(j => (j / 96) % 2 == 0).map { j =>
      (ts(Start.plusMinutes(15L * j + 1)), 56.0 + r.nextDouble(), 12.0 + r.nextDouble())
    }
  }
  private def ts(t: LocalDateTime) = Timestamp.valueOf(t)
}

object IfcbGen {
  sealed trait Kind
  case object Normal extends Kind
  case object GpsLess extends Kind
  case object StaleFix extends Kind
  case object Blacklisted extends Kind
  case object Oversize extends Kind
  case object Empty extends Kind

  final case class Bin(id: String, ts: LocalDateTime, kind: Kind, rois: Int,
      roiSeeds: Seq[Long], lat: Double, lon: Double) {
    /** featurized by the run: not gated out and not blacklisted */
    def processed: Boolean = kind == Normal || kind == GpsLess || kind == StaleFix
  }

  val Start: LocalDateTime = LocalDateTime.of(2020, 6, 1, 0, 0)
  val BlacklistedInstrument = "IFCB999"
  val PhantomBlacklisted = "D20200101T000000_IFCB134"
  /** the size gate: normal bins stay under it (≤ 10 ROIs of ≤ 1920 B) */
  val MaxBinBytes = 24000L
  val OversizeRois = 24 // ≥ 24 × 1080 B > MaxBinBytes
  private val IdFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
  private val FixFmt = DateTimeFormatter.ofPattern("MMM/dd/yyyy HH:mm:ss.SSS", Locale.ROOT)

  /** Writes one hdr/adc/roi trio, as the instrument would. */
  def writeBin(dir: Path, b: Bin): Unit = {
    val roiPath = dir.resolve(s"${b.id}.roi")
    if (b.kind == Empty) {
      Files.write(roiPath, Array.empty[Byte])
      Files.writeString(dir.resolve(s"${b.id}.adc"), "roi_number,width,height,start_byte\n1,2,2,0\n")
    } else {
      val imgs = b.roiSeeds.map(FeatureExtract.renderRoi)
      Files.write(roiPath, imgs.flatMap(_._1).toArray)
      val rows = imgs.zipWithIndex.scanLeft(("roi_number,width,height,start_byte", 0L)) {
        case ((_, off), ((px, h, w), i)) => (s"${i + 1},$w,$h,$off", off + px.length)
      }.map(_._1)
      Files.writeString(dir.resolve(s"${b.id}.adc"), rows.mkString("", "\n", "\n"))
    }
    val gps = b.kind match {
      case GpsLess => ""
      case StaleFix => s"gpsLatitude: ${b.lat}\ngpsLongitude: ${b.lon}\n" +
        s"gpsTimeFromFix: ${b.ts.minusMinutes(30).format(FixFmt)}\n"
      case _ => s"gpsLatitude: ${b.lat}\ngpsLongitude: ${b.lon}\n" +
        s"gpsTimeFromFix: ${b.ts.minusSeconds(30).format(FixFmt)}\n"
    }
    Files.writeString(dir.resolve(s"${b.id}.hdr"),
      s"softwareVersion: 4.1\n${gps}runTime: 1200\ninhibitTime: 60\nhumidity: 40\n")
  }
}
