package graft.tools

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.GraftQuery.{dsum, D4, D6}
import graft.functions.{Corpus, Strings}
import graft.operators.{Dedup, Ivf, Similarity}

/** Unified single-JVM measurement probe (round-20, r19 verdict task 3):
  * ONE main replacing the per-question near-copies ProbeCc / ProbeQ90 /
  * Probe112 that round 19 accumulated.
  *
  * The A/B questions share [[ab]] — variants ALTERNATE inside one JVM so
  * bursty hypervisor steal hits every variant alike (this host's steal
  * is invisible to in-guest load tools and sparse enough to contaminate
  * any two separate exclusive windows differently; BASELINE.md's
  * round-10 post-mortem), and every variant returns a checksum the
  * harness compares across variants: a probe whose arms disagree is
  * timing two different computations, and it throws rather than report.
  *
  * Usage: `sbt "runMain graft.tools.Probe <question> [sfDir] [args...]"`
  * (run exclusively, like every measurement main). Questions:
  *
  *  - `cc`        — [[Dedup.dupClusters]] forced-distributed branch under
  *                  freeRounds = 6/2/1 (the r19 §2 schedule evidence).
  *  - `q90min`    — q90's category rollup with string-buffered mins
  *                  (SortAggregate chain) vs the round-20 long-carrier
  *                  mins ([[Strings.lexCarrier]], HashAggregate chain).
  *  - `semdedup`  — semDedupAssigned's round-20 lifecycle (eager narrow
  *                  (id, cell) checkpoint, returned frame joins two
  *                  checkpointed frames) vs the r19 live-plan return
  *                  that re-ran the codebook assignment chain at the
  *                  caller's action.
  *  - `recall112` — the deep-tier co-location calibration (was
  *                  Probe112): true tau-close pairs over the
  *                  deterministic sample vs what each codebook tier
  *                  co-locates. args: [hexBound] [tiers] — defaults
  *                  "2000" (1/8; sf100 uses "0400" = 1/64) and
  *                  "flat,two,three". Also runs per-k as BenchIvf's
  *                  `recall` variant (r19 verdict task 8).
  */
object Probe {

  /** Alternating A/B loop: `passes` rounds over every variant, one
    * `PROBE <name> pass=N variant=L sec=T checksum=C` line each, then
    * per-variant minima. Throws on cross-variant checksum divergence.
    */
  def ab(name: String, passes: Int,
      variants: Seq[(String, () => Long)]): Unit = {
    val mins = scala.collection.mutable.LinkedHashMap[String, Double]()
    var diverged = false
    for (pass <- 1 to passes) {
      val checksums = variants.map { case (label, f) =>
        val t0 = System.nanoTime()
        val checksum = f()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE $name%s pass=$pass variant=$label%s " +
          f"sec=$sec%.2f checksum=$checksum")
        mins(label) = math.min(mins.getOrElse(label, Double.MaxValue), sec)
        checksum
      }
      if (checksums.distinct.size > 1) diverged = true
    }
    mins.foreach { case (label, sec) =>
      println(f"PROBE $name%s min variant=$label%s sec=$sec%.2f")
    }
    if (diverged) throw new IllegalStateException(
      s"PROBE $name: variants returned DIVERGENT checksums — " +
        "the arms are not computing the same result")
  }

  def main(args: Array[String]): Unit = {
    val question = args.headOption.getOrElse(throw new IllegalArgumentException(
      "usage: Probe <cc|q90min|semdedup|recall112> [sfDir] [question args...]"))
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    question match {
      case "cc" => cc(spark, sfDir)
      case "q90min" => q90min(spark, sfDir)
      case "semdedup" => semdedup(spark, sfDir)
      case "recall112" =>
        val hexBound = args.lift(2).getOrElse("2000")
        val tiers = args.lift(3).getOrElse("flat,two,three")
          .split(",").map(_.trim).toSet
        recall112(spark, sfDir, hexBound, tiers)
      case other => throw new IllegalArgumentException(
        s"unknown Probe question '$other' — " +
          "allowed: cc, q90min, semdedup, recall112")
    }
    spark.stop()
  }

  /** dupClusters' forced-distributed branch under different freeRounds
    * schedules; labels must be identical (fixpoint is fixpoint).
    */
  private def cc(spark: SparkSession, sfDir: String): Unit = {
    val pairs = Dedup.minhashLshPairs(Tables.documents(spark, sfDir),
      "doc_id", "text").persist()
    println(s"PROBE cc pairs=${pairs.count()}")
    def labelsSum(fr: Int): Long = {
      val l = Dedup.dupClusters(pairs, driverMaxEdges = 0L, freeRounds = fr)
      val r = l.agg(count(lit(1)), sum(col("id") * col("cluster"))).collect()(0)
      r.getLong(0) * 1000003L + r.getLong(1)
    }
    ab("cc", 3, Seq(6, 2, 1).map(fr =>
      (s"freeRounds=$fr", () => labelsSum(fr))))
  }

  /** q90's category rollup: string-buffered mins (every aggregation
    * phase SortAggregate — the shape q90 shipped through round 19) vs
    * the round-20 order-isomorphic long carriers (HashAggregate chain).
    * The joined+projected input is localCheckpointed once so both arms
    * read the same blocks and the probe isolates the AGGREGATION.
    */
  private def q90min(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val roi = Tables.lineitem(spark, sfDir).select(
      $"l_partkey", $"l_orderkey",
      concat(lit("D2024_IFCB134_"), $"l_orderkey", lit("_"),
        $"l_linenumber", lit(".png")).as("image"),
      $"l_linenumber".as("roi"),
      ($"l_extendedprice" / 100.0).as("Area"),
      ($"l_extendedprice" / 10.0).as("Biovolume"),
      ($"l_quantity" * 3.0).as("Perimeter"),
      ($"l_quantity" * 2.0).as("h90"),
      ($"l_quantity" + 1.0).as("hflip"))
    val cls = Tables.part(spark, sfDir).select($"p_partkey",
      concat($"p_brand", lit(", living")).as("subfolder"),
      $"p_type".as("class_clean"),
      $"p_size".as("aphia_id"))
    val smp = Tables.orders(spark, sfDir).select($"o_orderkey",
      concat(lit("S"), $"o_orderkey").as("sample_name"),
      concat(lit("R/V-"), $"o_custkey").as("ship"),
      concat(lpad(($"o_orderkey" % 24).cast("string"), 2, "0"),
        lit(":15:00")).as("time"))
    val projected = graft.jobs.EcoTaxaExport.project(
        roi.join(broadcast(cls), $"l_partkey" === $"p_partkey")
          .join(smp, $"l_orderkey" === $"o_orderkey"))
      .withColumn("object_annotation_category",
        graft.jobs.EcoTaxaExport.truncateCategory(
          $"object_annotation_category"))
      .localCheckpoint(true) // both arms read the same blocks

    def checksum(out: DataFrame): Long =
      out.orderBy($"category").collect()
        .map(_.mkString("|").hashCode.toLong).sum

    def stringMin(): Long = checksum(
      projected.groupBy($"object_annotation_category")
        .agg(count(lit(1)).as("n"),
          dsum($"object_area", D4).as("area_sum"),
          dsum($"object_h90_over_hflip", D6).as("ratio_sum"),
          count($"object_ring01").as("ring01_nonnull"),
          min($"object_id").as("first_object_id"),
          min($"object_time").as("first_time"),
          countDistinct($"sample_id").as("samples"))
        .select($"object_annotation_category".as("category"), $"n",
          $"area_sum", $"ratio_sum", $"ring01_nonnull",
          $"first_object_id", $"first_time", $"samples"))

    def longCarrier(): Long = checksum(
      projected.groupBy($"object_annotation_category")
        .agg(count(lit(1)).as("n"),
          dsum($"object_area", D4).as("area_sum"),
          dsum($"object_h90_over_hflip", D6).as("ratio_sum"),
          count($"object_ring01").as("ring01_nonnull"),
          min(Strings.lexCarrier(substring($"object_id", 15, 16)))
            .as("__id_min"),
          min($"object_time".cast("long")).as("__time_min"),
          countDistinct($"sample_id").as("samples"))
        .select($"object_annotation_category".as("category"), $"n",
          $"area_sum", $"ratio_sum", $"ring01_nonnull",
          concat(lit("D2024_IFCB134_"),
            Strings.lexCarrierDecode($"__id_min")).as("first_object_id"),
          lpad($"__time_min".cast("string"), 6, "0").as("first_time"),
          $"samples"))

    ab("q90min", 4, Seq(
      ("stringMin", () => stringMin()),
      ("longCarrier", () => longCarrier())))
  }

  /** semDedupAssigned's returned-frame lifecycle, A/B'd in one JVM
    * (q104's shape: corpus-scaled two-level codebook, trained ONCE
    * outside both arms): `liveReturn` reconstructs the r19 form — the
    * returned frame keeps the live assignment plan, so the caller's
    * rollup action re-runs the Ivf.assign codebook-join chain over the
    * corpus — and `pinnedReturn` is the current operator (eager narrow
    * (id, cell) checkpoint read from the pair stage's cache). Both
    * arms end in the q91-family attrition rollup; checksums must agree.
    */
  private def semdedup(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val k = math.max(8L, (e.count() + 249) / 250).toInt
    val cb = Ivf.train(e, "embedding", "vec_id", k,
      itersCoarse = 3, itersLevel = 2)
    val tau = 0.4
    def rollup(sd: DataFrame): Long =
      sd.groupBy($"cell".cast("int").as("cell"))
        .agg(count(lit(1)).as("n"),
          count(when($"dropped", lit(1))).as("n_dropped"),
          min(when(!$"dropped", $"vec_id")).as("first_kept"),
          min(when($"dropped", $"vec_id")).as("first_dropped"))
        .orderBy($"cell")
        .collect().map(_.mkString("|").hashCode.toLong).sum
    def liveReturn(): Long = {
      val assigned = Ivf.assign(e, "embedding", cb).filter($"cell".isNotNull)
      val cached = assigned.persist()
      try {
        val dropped = Dedup.embeddingNearDupPairs(
            cached, "vec_id", "embedding", tau, Some("cell"))
          .select($"id_b".as("__did")).distinct()
          .localCheckpoint()
        rollup(assigned.join(dropped, $"vec_id" === $"__did", "left")
          .select($"vec_id", $"cell", $"__did".isNotNull.as("dropped")))
      } finally { cached.unpersist(); () }
    }
    def pinnedReturn(): Long = rollup(
      Dedup.semDedupAssigned(
        Ivf.assign(e, "embedding", cb).filter($"cell".isNotNull),
        "vec_id", "embedding", tau))
    try ab("semdedup", 3, Seq(
      ("liveReturn", () => liveReturn()),
      ("pinnedReturn", () => pinnedReturn())))
    finally cb.release()
  }

  /** Deep-tier co-location sweep over the deterministic sample: true
    * tau-close pairs and how many each codebook tier co-locates — the
    * measurement behind `DeepRecallBound` and q112's per-SF table. One
    * JSON line per tau. Shared by the `recall112` question and
    * [[graft.BenchIvf]]'s `recall` variant (r19 verdict task 8).
    */
  def colocationSweep(spark: SparkSession, e: DataFrame, k: Int,
      hexBound: String, tiers: Set[String], taus: Seq[Double]): Unit = {
    import spark.implicits._
    val unknownTiers = tiers -- Set("flat", "two", "three")
    require(unknownTiers.isEmpty,
      s"unknown colocation tier(s): ${unknownTiers.mkString(", ")}")
    def fmt(v: Double) = String.format(Locale.ROOT, "%.4f", v: java.lang.Double)

    // every frame and codebook this sweep persists is released in a
    // finally, so a failed tier or tau does not pin them for the session
    val held = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def hold[A](a: A)(release: A => Unit): A = { held += (() => release(a)); a }
    try {
      val samp = hold(e.filter(
          Corpus.bucket16($"vec_id", "semdedup-deep-r19") < hexBound)
        .select($"vec_id", $"embedding").persist())(_.unpersist())
      val ns = samp.count()

      // tier assignments over the sample (pure per-row functions); a
      // skipped tier carries NULL cells, so its co-location count reads 0
      val cells0 =
        if (tiers("flat")) {
          val flatCents = Similarity.trainKmeansCentroids(
            e, "embedding", k, idCol = Some("vec_id"))
          samp.withColumn("flat", Similarity.cellAssign($"embedding", flatCents))
        } else samp.withColumn("flat", lit(null).cast("int"))
      val cells = Seq("two" -> 2, "three" -> 3).foldLeft(cells0) {
        case (df, (tier, depth)) =>
          if (tiers(tier)) Ivf.assign(df, "embedding",
            hold(Ivf.train(e, "embedding", "vec_id", k, depth,
              itersCoarse = 3, itersLevel = 2))(_.release()), tier)
          else df.withColumn(tier, lit(null).cast("int"))
      }
      val cells3 = hold(cells
        .select($"vec_id", $"flat", $"two", $"three").persist())(_.unpersist())
      cells3.count()

      for (tau <- taus) {
        val tp = Dedup.embeddingNearDupPairs(
            samp, "vec_id", "embedding", tau, blockCol = None)
          .select($"id_a", $"id_b").persist()
        try {
          val nPairs = tp.count()
          val joined = tp
            .join(cells3.select($"vec_id".as("id_a"), $"flat".as("fa"),
              $"two".as("ta"), $"three".as("ha")), "id_a")
            .join(cells3.select($"vec_id".as("id_b"), $"flat".as("fb"),
              $"two".as("tb"), $"three".as("hb")), "id_b")
            .select(
              count(when($"fa" === $"fb", 1)).as("flat"),
              count(when($"ta".isNotNull && $"ta" === $"tb", 1)).as("two"),
              count(when($"ha".isNotNull && $"ha" === $"hb", 1)).as("three"))
            .collect()(0)
          def r(c: Long) = if (nPairs > 0) c.toDouble / nPairs else 0.0
          println(s"""{"probe":"tau","k":$k,"tau":$tau,"sample_rows":$ns,""" +
            s""""n_pairs":$nPairs,"flat":${joined.getLong(0)},""" +
            s""""two":${joined.getLong(1)},"three":${joined.getLong(2)},""" +
            s""""r_flat":${fmt(r(joined.getLong(0)))},""" +
            s""""r_two":${fmt(r(joined.getLong(1)))},""" +
            s""""r_three":${fmt(r(joined.getLong(2)))}}""")
        } finally { tp.unpersist(); () }
      }
    } finally held.reverseIterator.foreach(_())
  }

  private def recall112(spark: SparkSession, sfDir: String,
      hexBound: String, tiers: Set[String]): Unit = {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val k = math.max(8L, (n + 249) / 250).toInt
    println(s"""{"probe":"start","sf_dir":"$sfDir","rows":$n,"k":$k,""" +
      s""""hex_bound":"$hexBound","tiers":"${tiers.toSeq.sorted.mkString(",")}"}""")
    colocationSweep(spark, e, k, hexBound, tiers,
      Seq(0.4, 0.6, 0.8, 0.9, 0.95))
  }
}
