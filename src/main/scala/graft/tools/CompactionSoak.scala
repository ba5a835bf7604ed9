package graft.tools

import java.nio.file.Files
import java.util.Locale

import org.apache.spark.sql.functions._

import graft.{Frames, GraftSession, Tables}
import graft.jobs.CorpusPrep
import graft.operators.{Dedup, Ivf}

/** Deep-scale soak of the DURABLE incremental compaction path
  * (round-18, r17 verdict task 5): q107 proved batch capped+distributed
  * clustering at sf100, but [[CorpusPrep.compactNearDups]] — the
  * versioned IVF index + ledger a streaming deployment maintains — had
  * only small-SF specs. This main runs ONE compaction cycle at the
  * sf10→sf100 delta shape (base = 90% of the corpus indexed as v1,
  * delta = the remaining 10% ≈ an sf10-sized ingest batch), asserts the
  * incremental pass is ROW-IDENTICAL to a full recompute with the same
  * frozen codebook (the scaled version of CorpusPrepSpec's identity
  * pin), and reports per-stage wall time plus on-disk index state size.
  *
  * k follows the compaction's corpus-scaled shape n/kDiv (third arg,
  * default 250 — 7200 cells at the sf100 base, the two-level regime the
  * r18 soak recorded). kDiv=200 pushes the sf100 base past the
  * [[graft.operators.Dedup.cellDepth]] deep switch (k = 9000 ≥ 8000),
  * so the SAME soak proves the durable THREE-level path (round-19, r18
  * verdict task 1): incremental ≡ full over the deep codebook, and the
  * incremental pass still beats the full rebuild. Run exclusively:
  *
  * {{{
  * SPARK_DRIVER_MEM=32g sbt "runMain graft.tools.CompactionSoak /tmp/graft_sf100 0.4 200"
  * }}}
  *
  * Prints one JSON line per stage and a final `{"soak":"done",...}`
  * contract line; exits non-zero unless the identity holds AND the
  * incremental pass did not retrain. Recorded evidence lives in
  * STATE_SOAK.md (round-18 two-level / round-19 three-level sections).
  */
object CompactionSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf100"))
    // 0.4 = the q91/SemDedup family's tau at the fixtures' K=8-grain
    // cells — the threshold at which the drop policy actually FIRES on
    // the synthetic corpus (a no-drop soak would never exercise the
    // affected-cell recompute the identity assert exists for)
    val tau = if (args.length > 1) args(1).toDouble else 0.4
    val kDiv = if (args.length > 2) args(2).toInt else 250
    require(kDiv >= 1, s"k divisor must be >= 1: $kDiv")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(
        master = s"local[$cpus]", shufflePartitions = cpus.toInt,
        appName = "graft-compaction-soak")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double) = String.format(Locale.ROOT, "%.3f", v: java.lang.Double)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val idx = Files.createTempDirectory("compaction-soak").toString

    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = e.filter(col("vec_id") % 10 =!= 0)
    val nBase = base.count()
    val nAll = e.count()
    val kOf: Long => Int = n => math.max(8L, (n + kDiv - 1) / kDiv).toInt
    println(s"""{"soak":"start","sf_dir":"$sfDir","rows_base":$nBase,""" +
      s""""rows_all":$nAll,"tau":$tau,"k_div":$kDiv,"k_base":${kOf(nBase)},""" +
      s""""index_dir":"$idx"}""")

    // v1: full build over the 90% base — the state a deployment holds
    // before an sf10-sized ingest batch lands
    val (v1, tBuild) = timed {
      CorpusPrep.compactNearDups(base, "vec_id", "embedding", idx, tau,
        k = kOf)
    }
    val v1Rows = v1.ledger.count()
    val v1Dropped = v1.ledger.filter(col("dropped")).count()
    println(s"""{"soak":"v1_full_build","sec":${fmt(tBuild)},""" +
      s""""version":${v1.version},"retrained":${v1.retrained},""" +
      s""""depth":${v1.codebook.depth},"ledger_rows":$v1Rows,""" +
      s""""dropped":$v1Dropped}""")
    v1.release()

    // v2: the incremental pass — the delta anti-joins out, assigns with
    // the frozen codebook, and only affected cells re-evaluate
    val (v2, tInc) = timed {
      CorpusPrep.compactNearDups(e, "vec_id", "embedding", idx, tau,
        k = kOf)
    }
    val v2Rows = v2.ledger.count()
    val v2Dropped = v2.ledger.filter(col("dropped")).count()
    println(s"""{"soak":"v2_incremental","sec":${fmt(tInc)},""" +
      s""""version":${v2.version},"retrained":${v2.retrained},""" +
      s""""ledger_rows":$v2Rows,"dropped":$v2Dropped}""")

    // identity: a FULL recompute with v2's (frozen) codebook must agree
    // row-for-row with the incremental ledger — cells are independent
    // under the drop policy, so untouched cells' carried-forward
    // verdicts are only correct if this holds at scale too
    val ((diffs, tAssign), tFull) = timed {
      val (assigned, tA) = timed {
        Frames.pin(Ivf.assign(e, "embedding", v2.codebook, "cell"))
      }
      val full = Dedup.semDedupAssigned(assigned, "vec_id", "embedding", tau)
        .select(col("vec_id").cast("long").as("id"), col("cell"),
          col("dropped"))
      ((v2.ledger.exceptAll(full).count() +
        full.exceptAll(v2.ledger).count(), tA))
    }
    println(s"""{"soak":"full_recompute_check","sec":${fmt(tFull)},""" +
      s""""assign_sec":${fmt(tAssign)},"diff_rows":$diffs}""")
    v2.release()

    // on-disk index state: all versions currently retained (the pruner
    // keeps current + previous)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stateBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(idx)).getLength
    val pass = diffs == 0 && !v2.retrained && v2.version == 2
    println(s"""{"soak":"done","pass":$pass,"diff_rows":$diffs,""" +
      s""""v2_retrained":${v2.retrained},"depth":${v2.codebook.depth},""" +
      s""""state_bytes":$stateBytes,""" +
      s""""build_sec":${fmt(tBuild)},"incremental_sec":${fmt(tInc)},""" +
      s""""check_sec":${fmt(tFull)}}""")
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
