package graft.tools

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Frames, Tables}
import graft.functions.Corpus
import graft.operators.{Dedup, Ivf, Similarity}

/** Single-JVM measurement probe for the questions still open.
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
  *  - `recall112` — the deep-tier co-location calibration: true
  *                  tau-close pairs over the deterministic sample vs
  *                  what each codebook tier co-locates. args: [hexBound] [tiers] — defaults
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
      "usage: Probe <cc|recall112> [sfDir] [question args...]"))
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
      case "recall112" =>
        val hexBound = args.lift(2).getOrElse("2000")
        val tiers = args.lift(3).getOrElse("flat,two,three")
          .split(",").map(_.trim).toSet
        recall112(spark, sfDir, hexBound, tiers)
      case other => throw new IllegalArgumentException(
        s"unknown Probe question '$other' — " +
          "allowed: cc, recall112")
    }
    spark.stop()
  }

  /** dupClusters' forced-distributed branch under different freeRounds
    * schedules; labels must be identical (fixpoint is fixpoint).
    */
  private def cc(spark: SparkSession, sfDir: String): Unit = {
    // already pinned: every schedule reads the same pair blocks
    val pairs = Dedup.minhashLshPairs(Tables.documents(spark, sfDir),
      "doc_id", "text")
    println(s"PROBE cc pairs=${pairs.count()}")
    def labelsSum(fr: Int): Long = {
      val l = Dedup.dupClusters(pairs, driverMaxEdges = 0L, freeRounds = fr)
      val r = l.agg(count(lit(1)), sum(col("id") * col("cluster"))).collect()(0)
      r.getLong(0) * 1000003L + r.getLong(1)
    }
    ab("cc", 3, Seq(6, 2, 1).map(fr =>
      (s"freeRounds=$fr", () => labelsSum(fr))))
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

    // every frame and codebook this sweep caches is released when it
    // exits, so a failed tier or tau does not hold them for the session
    Frames.scoped { s =>
      val samp = s.cache(e.filter(
          Corpus.bucket16($"vec_id", "semdedup-deep-r19") < hexBound)
        .select($"vec_id", $"embedding"))
      val ns = samp.count()

      // tier assignments over the sample (pure per-row functions); a
      // skipped tier carries NULL cells, so its co-location count reads 0
      val cells0 =
        if (tiers("flat")) {
          val flatCents = Similarity.trainKmeansCentroids(
            e, "embedding", k, idCol = Some("vec_id"))
          samp.withColumn("flat", Similarity.cellAssign($"embedding", flatCents))
        } else samp.withColumn("flat", lit(null).cast("int"))
      val books = Seq("two" -> 2, "three" -> 3).collect {
        case (tier, depth) if tiers(tier) => tier -> Ivf.train(
          e, "embedding", "vec_id", k, depth, itersCoarse = 3, itersLevel = 2)
      }.toMap
      try {
        val cells = Seq("two", "three").foldLeft(cells0) { (df, tier) =>
          books.get(tier).fold(df.withColumn(tier, lit(null).cast("int")))(
            Ivf.assign(df, "embedding", _, tier))
        }
        val cells3 = s.cache(cells.select($"vec_id", $"flat", $"two", $"three"))
        cells3.count()

        for (tau <- taus) Frames.scoped { st =>
          val tp = st.cache(Dedup.embeddingNearDupPairs(
              samp, "vec_id", "embedding", tau, blockCol = None)
            .select($"id_a", $"id_b"))
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
        }
      } finally books.values.foreach(_.release())
    }
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
