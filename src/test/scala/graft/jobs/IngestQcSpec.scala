package graft.jobs

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.queries.FeatureExtract

/** §3.2 ingest-and-QC job end-to-end over generated hdr/adc/roi fixture
  * bins (reference: code/ifcb_ingest_and_qc.R:86-529): dashboard
  * metadata contract, blacklist/oversize skip rows, ferrybox fallback +
  * provenance comment, cruise interval labels, kernel features, PSD
  * over kernel output, and idempotent incrementality (run twice ⇒ the
  * appended sinks gain nothing).
  */
class IngestQcSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def ts(s: String) = Timestamp.valueOf(s)

  // --- fixture: a raw dir of bin trios -------------------------------
  private val BinA = "D20240601T100000_IFCB134" // GPS ok, in cruise, baltic
  private val BinB = "D20240601T110000_IFCB134" // no GPS -> ferrybox, kattegat
  private val BinC = "D20240601T120000_IFCB134" // stale fix + no ferrybox -> -999
  private val BinBL = "D20240601T130000_IFCB134" // blacklisted, has files
  private val BinBig = "D20240601T140000_IFCB134" // oversize -> dead letter
  private val BinNoHdr = "D20240601T160000_IFCB134" // no .hdr at all -> -999
  private val BinBadFix = "D20240601T170000_IFCB134" // unparseable fix -> -999
  private val PhantomBL = "D20231201T000000_IFCB777" // blacklisted, no files

  /** Writes one bin trio; returns nothing. `seeds` pick the rendered
    * ROI images; `gps`/`fix` control the hdr position block.
    */
  private def writeBin(dir: Path, bin: String, seeds: Seq[Long],
      gps: Option[(Double, Double)], fix: Option[String],
      withHdr: Boolean = true): Unit = {
    val imgs = seeds.map(FeatureExtract.renderRoi)
    val roi = imgs.flatMap(_._1).toArray
    Files.write(dir.resolve(s"$bin.roi"), roi)
    val adcRows = imgs.zipWithIndex.scanLeft(("roi_number,width,height,start_byte", 0L)) {
      case ((_, off), ((px, h, w), i)) =>
        (s"${i + 1},$w,$h,$off", off + px.length)
    }.map(_._1)
    Files.writeString(dir.resolve(s"$bin.adc"), adcRows.mkString("", "\n", "\n"))
    if (withHdr) {
      val gpsLines = gps.map { case (la, lo) =>
        s"gpsLatitude: $la\ngpsLongitude: $lo\n" }.getOrElse("")
      val fixLine = fix.map(f => s"gpsTimeFromFix: $f\n").getOrElse("")
      Files.writeString(dir.resolve(s"$bin.hdr"),
        s"softwareVersion: 4.1\n$gpsLines$fixLine")
    }
  }

  private lazy val rawDir: Path = {
    val dir = Files.createTempDirectory("ingestqc")
    writeBin(dir, BinA, Seq(3L, 10L),
      gps = Some((57.0, 16.0)), fix = Some("Jun/01/2024 09:59:30.000"))
    writeBin(dir, BinB, Seq(20L), gps = None, fix = None)
    writeBin(dir, BinC, Seq(31L),
      gps = Some((56.0, 12.0)), fix = Some("Jun/01/2024 11:30:00.000")) // 30 min stale
    writeBin(dir, BinBL, Seq(40L), gps = None, fix = None)
    writeBin(dir, BinBig, Seq(50L, 51L, 52L, 53L, 54L, 55L, 56L, 57L),
      gps = None, fix = None)
    writeBin(dir, BinNoHdr, Seq(60L), gps = None, fix = None, withHdr = false)
    writeBin(dir, BinBadFix, Seq(70L),
      gps = Some((57.2, 11.5)), fix = Some("not/a/timestamp"))
    // empty (0-byte) bin: excluded everywhere (R:190-197)
    Files.write(dir.resolve("D20240601T150000_IFCB134.roi"), Array.empty[Byte])
    Files.writeString(dir.resolve("D20240601T150000_IFCB134.adc"),
      "roi_number,width,height,start_byte\n1,2,2,0\n")
    // id-less stray .roi file: no IFCB sample id in the name — must
    // dead-letter (reason no_sample_id), never become a pid="" chimera
    // metadata row (round-12 review)
    Files.write(dir.resolve("notes.roi"), Array[Byte](1, 2, 3))
    dir
  }

  private lazy val cfg = IngestQc.Config(
    rawDir = rawDir.toString,
    maxBinBytes = 5000L,    // BinBig (8 images) trips this
    psdStartFitUm = 2.0)    // fixture blobs are ~4-6 um ESD

  // "IFCB9" is a general instrument pattern: it must match file paths as
  // a regex but NEVER surface as a literal pid row (R:392-393)
  private val blacklist = Seq(BinBL, PhantomBL, "D20240115", "IFCB9").toDF("sample")
  private val cruises = Seq(("77", ts("2024-06-01 09:00:00"), ts("2024-06-01 10:30:00")))
    .toDF("cruise_no", "startdate", "stopdate")
  private val ferrybox = Seq(
    (ts("2024-06-01 11:00:30"), 57.7, 11.0), // 30 s from BinB
    (ts("2024-06-01 03:00:00"), 55.0, 13.0)  // matches nothing
  ).toDF("timestamp", "latitude", "longitude")
  // baltic box: lat 55-58, lon 14-20 (BinA inside; ferrybox pos outside)
  private val baltic = Seq((55.0, 14.0), (58.0, 14.0), (58.0, 20.0), (55.0, 20.0))

  private lazy val frames = IngestQc.run(
    spark, cfg, blacklist, cruises, ferrybox, baltic)

  test("overlapping cruise intervals resolve to ONE cruise per bin, latest start wins") {
    // round-12 review: the interval join emitted one row per containing
    // cruise, duplicating the pid in the pid-keyed metadata
    val overlapping = Seq(
      ("7", ts("2024-06-01 00:00:00"), ts("2024-06-30 00:00:00")),
      ("8", ts("2024-06-01 09:30:00"), ts("2024-06-02 00:00:00")) // later start
    ).toDF("cruise_no", "startdate", "stopdate")
    val bins = Seq(("DX", ts("2024-06-01 10:00:00"))).toDF("sample", "datetime")
    val out = IngestQc.withCruise(bins, overlapping, cfg).collect()
    assert(out.length == 1, s"one row per bin, got ${out.length}")
    assert(out.head.getAs[String]("cruise") == "SVEA_2024_8")
  }

  test("dashboard metadata matches the R:373-428 contract") {
    val md = frames.metadata.collect()
      .map(r => r.getAs[String]("pid") -> r).toMap
    assert(md.keySet ==
      Set(BinA, BinB, BinC, BinBL, BinBig, BinNoHdr, BinBadFix, PhantomBL))

    val a = md(BinA)
    assert(a.getAs[Double]("latitude") == 57.0)
    assert(a.getAs[String]("cruise") == "SVEA_2024_77")
    assert(a.getAs[String]("tag") == "baltic")
    assert(!a.getAs[Boolean]("skip"))
    assert(a.getAs[String]("comment") == null)

    val b = md(BinB)
    assert(b.getAs[Double]("latitude") == 57.7)
    assert(b.getAs[String]("comment") ==
      "GPS location originates from ferrybox data")
    assert(b.getAs[String]("tag") == "skagerrak_kattegat")
    assert(b.getAs[String]("cruise") == "SVEA_2024_NA") // R paste0 NA-literal

    val c = md(BinC)
    assert(c.getAs[Double]("latitude") == -999.0)
    assert(c.getAs[String]("tag") == "missing_position")

    // a bin with NO .hdr and one whose fix time cannot be parsed both
    // land on the -999/missing_position contract, not a silent mis-tag
    val nh = md(BinNoHdr)
    assert(nh.getAs[Double]("latitude") == -999.0)
    assert(nh.getAs[String]("tag") == "missing_position")
    val bf = md(BinBadFix)
    assert(bf.getAs[Double]("latitude") == -999.0)
    assert(bf.getAs[String]("tag") == "missing_position")

    assert(md(BinBL).getAs[Boolean]("skip"))
    val big = md(BinBig)
    assert(big.getAs[Boolean]("qc_bad") && big.getAs[Boolean]("skip"))
    val ph = md(PhantomBL)
    assert(ph.getAs[Boolean]("qc_bad") && ph.getAs[Boolean]("skip"))
    // the day-level pattern D20240115 never becomes a row (R:404-406),
    // and neither does the general "IFCB9" pattern (md.keySet above)
  }

  test("features cover new non-blacklisted bins only; PSD flags per sample") {
    val bySample = frames.features.groupBy("sample").count()
      .as[(String, Long)].collect().toMap
    assert(bySample == Map(BinA -> 2L, BinB -> 1L, BinC -> 1L,
      BinNoHdr -> 1L, BinBadFix -> 1L))
    assert(frames.features.columns.contains("EquivDiameter"))

    val flags = frames.psdFlags.as[(String, String)].collect().toMap
    assert(flags.keySet == Set(BinA, BinB, BinC, BinNoHdr, BinBadFix))
    // 1-2 rois per bin < incomplete[1] = 1500 => reference-vocabulary
    // "Incomplete Run" under the flags7 chain; the fixture HDRs carry no
    // runTime/humidity keys, so the volume/humidity rules stay disabled
    assert(flags.values.toSet == Set("Incomplete Run"))

    val fits = frames.psdFits.collect().map(r =>
      r.getAs[String]("sample") -> r.getAs[Long]("n_bins")).toMap
    assert(fits.keySet == Set(BinA, BinB, BinC, BinNoHdr, BinBadFix))
    assert(fits.values.forall(_ >= 1L)) // fixture ESD ~4-6 um >= startFit 2

    val dead = frames.deadLetter
      .select("sample", "reason").as[(String, String)].collect().toSet
    assert(dead == Set(
      (BinBig, "oversize"), ("D20240601T150000_IFCB134", "empty"),
      ("", "no_sample_id")))
    // ...and the chimera pid="" row must NOT exist in metadata
    assert(frames.metadata.filter(col("pid") === "" || col("pid").isNull)
      .count() == 0)
  }

  test("psd data is the micron_factor histogram of EquivDiameter") {
    val viaJob = frames.psdData
      .as[(String, Int, Long)].collect().toSet
    val expected = frames.features
      .select(col("sample"),
        org.apache.spark.sql.functions.floor(
          col("EquivDiameter") * cfg.micronFactor).cast("int").as("esd_um"))
      .groupBy("sample", "esd_um").count()
      .as[(String, Int, Long)].collect().toSet
    assert(viaJob == expected && viaJob.nonEmpty)
  }

  test("restricted sampleMetrics: one key collect, same rows as the full read") {
    val keys = Seq(BinA, BinNoHdr, PhantomBL).toDF("sample")
    val (_, oneCollect, _) = sparkWork(
      keys.select(col("sample").cast("string")).distinct().collect())
    assert(oneCollect >= 1)
    val (restricted, jobs, _) = sparkWork(
      IngestQc.sampleMetrics(spark, cfg, restrictTo = Some(keys)))
    assert(jobs == oneCollect,
      s"building the restricted metrics ran $jobs jobs; one key collect runs $oneCollect")
    // BinA has .adc and .hdr, BinNoHdr only .adc, PhantomBL no file
    val full = IngestQc.sampleMetrics(spark, cfg)
      .filter(col("sample").isin(BinA, BinNoHdr, PhantomBL))
    assert(restricted.collect().toSet == full.collect().toSet)
    assert(restricted.select("sample", "trigger_count").as[(String, Long)].collect().toMap ==
      Map(BinA -> 2L, BinNoHdr -> 1L))
  }

  test("runIncremental is idempotent: second run appends nothing") {
    val out = Files.createTempDirectory("ingestout").toString
    IngestQc.runIncremental(spark, cfg, blacklist, cruises, ferrybox, baltic, out)
    def counts() = Seq("features", "psd_data", "psd_fits", "psd_flags").map { t =>
      t -> spark.read.option("header", "true").csv(s"$out/$t").count()
    }.toMap
    val first = counts()
    assert(first("features") == 6L && first("psd_fits") == 5L)

    val second = IngestQc.runIncremental(
      spark, cfg, blacklist, cruises, ferrybox, baltic, out)
    assert(second.features.isEmpty) // nothing new to extract
    assert(counts() == first)       // sinks unchanged
    // metadata is overwritten, not appended: same contract rows
    assert(spark.read.option("header", "true").csv(s"$out/metadata").count() == 8L)
  }

  test("drifted state file fails loudly, not as a silent anti-join miss") {
    val out = Files.createTempDirectory("ingestdrift").toString
    IngestQc.runIncremental(spark, cfg, blacklist, cruises, ferrybox, baltic, out)
    // hand-write a features state part-file whose roi_number column
    // drifted to a non-integer type: the pinned-schema FAILFAST read
    // must throw during the incremental run instead of nulling the
    // column and silently re-processing (or skipping) bins
    // pick a part file that actually carries data rows: listing order is
    // filesystem-dependent (names embed per-run UUIDs) and a header-only
    // part from an empty partition would make the edit a no-op — the
    // source of an order-dependent flake
    val header = Files.list(java.nio.file.Paths.get(s"$out/features"))
      .iterator().asScala.filter(_.toString.endsWith(".csv"))
      .find(p => Files.readAllLines(p).size() > 1).get
    val lines = Files.readAllLines(header).asScala
    val drifted = lines.head +: lines.tail.map(l => l.replaceFirst(",", ",not_a_number_"))
    Files.write(header, drifted.asJava)
    // drop the Hadoop checksum sidecar: the point is the SCHEMA gate
    // failing, not the CRC noticing the edit
    Files.deleteIfExists(header.resolveSibling("." + header.getFileName + ".crc"))
    val e = intercept[Exception] {
      IngestQc.runIncremental(
        spark, cfg, blacklist, cruises, ferrybox, baltic, out).features.count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      String.valueOf(c.getMessage).contains("MALFORMED_RECORD") ||
        String.valueOf(c.getMessage).contains("FAILFAST") ||
        String.valueOf(c.getMessage).contains("not_a_number_")),
      s"expected a malformed-record failure, got: ${e.getMessage}")
  }

  test("streaming deployment processes outstanding bins exactly once") {
    val out = Files.createTempDirectory("ingeststream").toString
    val ckpt = Files.createTempDirectory("ingestckpt").toString
    val q = IngestQc.stream(
      spark, cfg, blacklist, cruises, ferrybox, baltic, out, ckpt)
    q.awaitTermination(120000)
    val features = spark.read.option("header", "true").csv(s"$out/features")
    assert(features.count() == 6L)
    // second trigger over the same checkpoint: no new files -> batch is
    // empty or the idempotent sinks append nothing
    val q2 = IngestQc.stream(
      spark, cfg, blacklist, cruises, ferrybox, baltic, out, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.option("header", "true").csv(s"$out/features").count() == 6L)
  }

  test("streaming trigger fires on a NEW empty bin and the skip log persists (round-14)") {
    // binaryFile-based triggering silently omitted 0-byte files, so an
    // EMPTY new bin — the exact case the dead-letter gate exists for —
    // never produced a batch; the hdr-watched trigger fires, and the
    // dead-letter frame (R's skip log) now lands durably in
    // <out>/dead_letter instead of being dropped on the floor
    val dir = Files.createTempDirectory("ingeststream-empty")
    writeBin(dir, BinA, Seq(3L),
      gps = Some((57.0, 16.0)), fix = Some("Jun/01/2024 09:59:30.000"))
    val c = cfg.copy(rawDir = dir.toString)
    val out = Files.createTempDirectory("ingeststream-empty-out").toString
    val ckpt = Files.createTempDirectory("ingeststream-empty-ckpt").toString
    val q = IngestQc.stream(spark, c, blacklist, cruises, ferrybox, baltic, out, ckpt)
    q.awaitTermination(120000)
    assert(spark.read.option("header", "true").csv(s"$out/features").count() > 0)
    // a NEW bin arrives EMPTY (0-byte .roi + hdr): the trigger must fire
    val emptyBin = "D20240601T180000_IFCB134"
    Files.write(dir.resolve(s"$emptyBin.roi"), Array.empty[Byte])
    Files.writeString(dir.resolve(s"$emptyBin.adc"),
      "roi_number,width,height,start_byte\n")
    Files.writeString(dir.resolve(s"$emptyBin.hdr"), "softwareVersion: 4.1\n")
    val q2 = IngestQc.stream(spark, c, blacklist, cruises, ferrybox, baltic, out, ckpt)
    q2.awaitTermination(120000)
    val dead = spark.read.option("header", "true").csv(s"$out/dead_letter")
    val row = dead.filter($"path".contains(emptyBin))
      .select("reason").as[String].collect()
    assert(row.toSeq == Seq("empty"), s"dead letter: ${dead.collect().mkString(",")}")
    // idempotent: a third trigger does not duplicate the skip-log row
    val q3 = IngestQc.stream(spark, c, blacklist, cruises, ferrybox, baltic, out, ckpt)
    q3.awaitTermination(120000)
    assert(spark.read.option("header", "true").csv(s"$out/dead_letter")
      .filter($"path".contains(emptyBin)).count() == 1)
  }

  test("engine-generated Bubbles flag drives the delivery W1 adjacency drop end-to-end") {
    import org.apache.spark.sql.functions.{substring, lit}
    // Five samples in one run sequence. S3's particles peak at 320 px ESD
    // = floor(320 / 2.77) = 115 µm — past the reference's bubbles = 110 µm
    // production threshold (ifcb_ingest_and_qc.R:510) — so the PSD stage
    // itself must emit "Bubbles". The clean samples carry a descending
    // 3-bin histogram ABOVE psdStartFitUm (16/20/24 µm at counts
    // 16/8/4) so their power-law fit is real and flags "ok" — since
    // round 12 an UNFITTABLE sample (no bins above the fit start, null
    // r2) fires "Poor Fit" instead of silently passing, so the old
    // all-at-30px fixture (10 µm, zero fit bins) would no longer read
    // clean. incompleteCount is lowered so the small fixture isn't
    // swallowed by the count gate; every other threshold is the
    // reference default.
    val cleanDiams = Seq.fill(16)(45.0) ++ Seq.fill(8)(56.0) ++ Seq.fill(4)(67.0)
    val feats = ((for {
      s <- Seq("S1", "S2", "S4", "S5"); d <- cleanDiams
    } yield (s, d)) ++ (1 to 30).map(_ => ("S3", 320.0)))
      .toDF("sample", "EquivDiameter")
    val psdCfg = cfg.copy(
      psdStartFitUm = 15.0,
      psdFlagParams = graft.agg.PsdFit.FlagParams(incompleteCount = 1L))
    val (_, _, psdFlags) = IngestQc.psd(feats, psdCfg)
    val flagMap = psdFlags.as[(String, String)].collect().toMap
    assert(flagMap("S3") == "Bubbles")
    assert(Seq("S1", "S2", "S4", "S5").forall(flagMap(_) == "ok"))

    // feed the engine-produced flags straight into the delivery: the W1
    // adjacency window must drop S3 AND its ±1 neighbors S2/S4
    val roi = Seq(
      ("S1", "ClassA", 100.0, false), ("S2", "ClassA", 100.0, false),
      ("S3", "ClassA", 100.0, false), ("S4", "ClassA", 100.0, false),
      ("S5", "ClassA", 100.0, false))
      .toDF("sample", "class_name", "vol_um3", "is_diatom")
    val dim = Seq(("S1", 5.0), ("S2", 5.0), ("S3", 5.0), ("S4", 5.0), ("S5", 5.0))
      .toDF("sample", "ml_analyzed")
      .withColumn("lat", lit(57.5)).withColumn("lon", lit(11.8))
    val out = SharkExport.delivery(
      roi, dim, psdFlags, removeFlagged = Seq("bubbles", "incomplete"),
      adjacencyPartition = substring($"sample", 1, 1))
    val kept = out.select("SMPNO").as[String].collect().toSet
    assert(kept == Set("S1", "S5"),
      s"bubbles sample + neighbors must vanish, kept: $kept")
  }

  test("dashboard snapshot suppresses already-commented pids (R:412-422)") {
    val current = Seq((BinB, "GPS location originates from ferrybox data (2024)"))
      .toDF("pid", "comment_summary")
    val suppressed = IngestQc.run(
      spark, cfg, blacklist, cruises, ferrybox, baltic,
      currentMetadata = Some(current))
    val b = suppressed.metadata.filter(col("pid") === BinB).collect().head
    assert(b.getAs[String]("comment") == null)
  }
}
