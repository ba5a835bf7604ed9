package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}

/** Trainer-scaling measurement for the IVF codebook (BENCH_SCALING
  * evidence): for each k, times the FLAT full trainer
  * ([[Similarity.trainKmeansCentroidsFull]] — O(pool·k·d) driver
  * seeding, O(k·d) plan bytes at assignment) against the HIERARCHICAL
  * [[Ivf.train]] at depth 2 (`hier`: O(pool·√k·d) seeding, O(√k·d)
  * plan bytes, deeper levels as data) and depth 3 (`hier3`: k^⅓), plus
  * the corpus assignment pass for each, and reports the serialized
  * size of what each variant ships INSIDE the plan (the flat kernel's
  * full centroid matrix vs the hierarchical path's coarse matrix — the
  * deeper levels ride the joins as ordinary rows, not plan state).
  * `recall` prints the q112 co-location canary per k instead.
  *
  * One JSON line per (k, variant):
  * `{"k":N,"variant":"flat|hier|hier3","train_sec":…,"assign_sec":…,
  *   "plan_bytes":…,"cells":…}`
  *
  * Run exclusively (the Bench rule): `sbt "runMain graft.BenchIvf
  * /tmp/graft_sf1 80,320,1280"`.
  */
object BenchIvf {
  private def serializedBytes(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size().toLong
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1"))
    val ks = (if (args.length > 1) args(1) else "80,320,1280")
      .split(",").map(_.trim.toInt)
    // optional variant filter: the deep-k crossover runs hier vs hier3
    // only — the flat trainer's O(pool·k·d) driver seeding is exactly
    // the term the hierarchical paths remove, and paying it at
    // k=32000 would waste most of the exclusive window.
    // `recall`: the q112 sampled co-location floor as a BenchIvf row —
    // re-measures the deep tier's recall price (two vs three
    // co-location at SemDeDup's tau = 0.4 over the deterministic 1/8
    // sample) whenever the codebook path changes
    val variants = (if (args.length > 2) args(2) else "flat,hier,hier3")
      .split(",").map(_.trim).toSet
    // fail loudly on a typo'd variant BEFORE the session starts: an
    // unknown name would run zero benches for it and silently waste
    // the exclusive window (the same failure mode the
    // SPARK_GRAFT_BENCH_PASSES validation in Bench exists to prevent)
    val knownVariants = Set("flat", "hier", "hier3", "recall")
    val unknown = variants -- knownVariants
    require(unknown.isEmpty,
      s"unknown BenchIvf variant(s) ${unknown.mkString(", ")} — " +
        s"allowed: ${knownVariants.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double) = String.format(Locale.ROOT, "%.3f", v: java.lang.Double)
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(300)
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val e = Tables.embeddings(spark, sfDir)
    // warm the JVM/session once so the first measured k is comparable
    e.count()

    for (k <- ks) {
      if (variants("flat")) {
      hygiene()
      val (flatCents, flatTrain) = timed {
        Similarity.trainKmeansCentroidsFull(
          e, "embedding", k, iters = 4, idCol = Some("vec_id"))
      }
      val (_, flatAssign) = timed {
        e.withColumn("cell", Similarity.cellAssign(col("embedding"), flatCents))
          .write.mode("overwrite").format("noop").save()
      }
      println(s"""{"k":$k,"variant":"flat","train_sec":${fmt(flatTrain)},""" +
        s""""assign_sec":${fmt(flatAssign)},""" +
        s""""plan_bytes":${serializedBytes(flatCents)},""" +
        s""""cells":${flatCents.length}}""")
      }

      // hier = two levels, hier3 = three: the depth crossover instrument
      // (per-row assign cost k^(1/depth)-bounded as k grows)
      for ((variant, depth) <- Seq("hier" -> 2, "hier3" -> 3)
          if variants(variant)) {
        hygiene()
        val (cb, train) = timed {
          Ivf.train(e, "embedding", "vec_id", k, depth,
            itersCoarse = 4, itersLevel = 3)
        }
        val (_, assign) = timed {
          Ivf.assign(e, "embedding", cb)
            .write.mode("overwrite").format("noop").save()
        }
        println(s"""{"k":$k,"variant":"$variant","train_sec":${fmt(train)},""" +
          s""""assign_sec":${fmt(assign)},""" +
          s""""plan_bytes":${serializedBytes(cb.coarse)},""" +
          s""""cells":${cb.fine.count()}}""")
        cb.release()
      }

      if (variants("recall")) {
      // deep-tier recall canary: the q112 floor's tau = 0.4
      // co-location ratio for the two- and three-level tiers at this k,
      // over the same deterministic 1/8 sample q112 uses — one {"probe":"tau",...} line per k. The
      // acceptance bar is q112's DeepRecallBound: r_three/r_two ≥ 0.8
      hygiene()
      graft.tools.Probe.colocationSweep(spark, e, k,
        hexBound = "2000", tiers = Set("two", "three"), taus = Seq(0.4))
      }
    }
    spark.stop()
  }
}
