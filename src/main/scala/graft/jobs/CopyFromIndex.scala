package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M5: index-driven copy-with-provenance — step 02 of the
  * merge-training-datasets trio (reference
  * `code/merge_training_datasets/02_copy_from_index.R:1-107`).
  * Step 01 (index build) is covered by the q16/q17 machinery and step
  * 03 (duplicate resolution) by q29; this job reproduces the merged
  * training dataset FROM the provenance index: each indexed file is
  * copied from its source location into `destDir/dest_class/filename`.
  *
  * Reference semantics carried over exactly:
  *   - ONE source per (filename, dest_class): the reference keeps the
  *     index's first row per group (`.SD[1]`, 02_copy_from_index.R:40).
  *     Index order there is the rbindlist source order
  *     (NIVA→SAMS→SYKE→SZN, 01_create_file_index.R:14) with files
  *     alphabetical within a source — so the deterministic,
  *     order-independent analogue is min by (owner rank, source
  *     relpath), which this job uses ([[SourceOrder]]).
  *   - external owners resolve under `originalDir/owner/relpath`
  *     (:46-47); SMHI files resolve under the OPTIONAL SMHI source dir
  *     by bare filename (:49-52) and are skipped with a count when it
  *     is absent (:56-63).
  *   - `overwrite = FALSE` (:89): an existing destination file is
  *     never replaced — it reports `exists` in the ledger. (The
  *     reference increments its copied counter even when the copy was
  *     a no-op because the return value of `file.copy` is ignored;
  *     the ledger here reports what actually happened.)
  *   - missing source files are counted, never fatal (:81-87).
  *
  * Spark-first shape: resolution (dedup + path construction) is pure
  * DataFrame work — one window over (filename, dest_class); the copy
  * itself is a `mapPartitions` FS kernel, executor-parallel like
  * [[graft.sources.ZipSink]]'s writers, emitting one status row per
  * index entry. Nothing corpus-sized ever reaches the driver: the only
  * driver-side FS work is creating the destination class directories
  * (bounded by the class count). Copies are idempotent — a replayed
  * task attempt finds the file already present and reports `exists` —
  * so speculative execution cannot corrupt the destination tree.
  */
object CopyFromIndex {

  /** The reference's source priority: rbindlist order at
    * 01_create_file_index.R:14 — the order `.SD[1]` resolves
    * multi-source matches in. SMHI rows (no original_data presence)
    * rank last.
    */
  val SourceOrder: Seq[String] = Seq("NIVA", "SAMS", "SYKE", "SZN")

  /** Ledger statuses, in the order a run report lists them. */
  val Statuses: Seq[String] =
    Seq("copied", "exists", "missing", "skipped_smhi")

  /** Resolves the provenance index to one copy decision per
    * (filename, dest_class): the first source match by the reference's
    * rule, with the full source path built per owner. Rows whose owner
    * is SMHI get a NULL `source_path` when `smhiSourceDir` is absent —
    * [[copy]] reports those as `skipped_smhi`, the reference's :56-63
    * accounting.
    *
    * @param index (filename, dest_class, source_owner, source_relpath)
    *              — 01_create_file_index.R's output shape; SMHI rows
    *              may carry a NULL relpath (they resolve by filename)
    */
  def resolve(index: DataFrame, originalDir: String,
      smhiSourceDir: Option[String] = None): DataFrame = {
    val rank = SourceOrder.zipWithIndex.toMap
    // try_element_at: Spark 4's ANSI element_at throws on a missing map
    // key, and SMHI (deliberately unranked — it sorts last) is missing
    val ownerRank = coalesce(
      try_element_at(typedLit(rank), col("source_owner")),
      lit(Int.MaxValue))
    val first = index
      .withColumn("__rank", row_number().over(
        Window.partitionBy("filename", "dest_class")
          .orderBy(ownerRank, col("source_relpath").asc_nulls_last)))
      .filter(col("__rank") === 1)
      .drop("__rank")
    val smhiPath = smhiSourceDir match {
      case Some(sd) => concat_ws("/", lit(sd), col("filename"))
      case None => lit(null).cast("string")
    }
    first.withColumn("source_path",
      when(col("source_owner").isin(SourceOrder: _*),
        concat_ws("/", lit(originalDir), col("source_owner"),
          col("source_relpath")))
        .otherwise(smhiPath))
  }

  /** Executes the copies and returns the per-file ledger
    * (filename, dest_class, source_owner, source_path, status) —
    * status one of [[Statuses]]. The destination class directories are
    * created up front (driver-side, bounded by the class count — the
    * reference's :68-71); each partition then copies its rows
    * independently with create-new semantics (`overwrite = FALSE`).
    */
  def copy(resolved: DataFrame, destDir: String): DataFrame = {
    val spark = resolved.sparkSession
    import spark.implicits._
    // ONE materialization of the resolve window feeds both the
    // driver-side metadata pass below and the copy kernel — without
    // the cache the row_number window over the full index runs twice
    graft.Frames.scoped { s =>
      val slim = s.cache(resolved
        .select(col("filename").cast("string"),
          col("dest_class").cast("string"),
          col("source_owner").cast("string"),
          col("source_path").cast("string")))
      // one bounded metadata pass: destination class dirs (created up
      // front, the reference's :68-71) AND the owner contract — an
      // unknown or NULL owner would otherwise fall silently into the
      // SMHI branch (skipped, or worse: copying smhiDir/<filename>'s
      // bytes into the wrong class), the same quiet-typo failure mode
      // the bench tools validate against loudly
      val meta = slim.select(col("dest_class"), col("source_owner"))
        .distinct().collect()
      val knownOwners = SourceOrder.toSet + "SMHI"
      val badOwners = meta.map(_.getString(1))
        .filter(o => o == null || !knownOwners.contains(o)).distinct
      require(badOwners.isEmpty,
        s"unknown source_owner(s) ${badOwners.mkString(", ")} — " +
          s"allowed: ${knownOwners.toSeq.sorted.mkString(", ")}")
      meta.map(_.getString(0)).distinct.foreach { dc =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(destDir, dc))
        ()
      }
      // eager + pinned: the copy is a SIDE EFFECT — a lazily returned
      // frame would re-run it on every action, flipping first-run
      // `copied` statuses to `exists` under the caller's feet
      graft.Frames.pin(slim
        .as[(String, String, String, String)]
        .mapPartitions { it =>
          it.map { case (fn, dc, owner, src) =>
            val status =
              if (src == null) "skipped_smhi"
              else {
                val sp = java.nio.file.Paths.get(src)
                val dp = java.nio.file.Paths.get(destDir, dc, fn)
                if (!java.nio.file.Files.exists(sp)) "missing"
                else if (java.nio.file.Files.exists(dp)) "exists"
                else {
                  // copy into a temp name and ATOMIC_MOVE onto the
                  // final one (the ZipSink/MatSink discipline): a task
                  // attempt killed mid-copy must never leave a
                  // truncated file that later runs see as `exists`
                  val tmp = java.nio.file.Files.createTempFile(
                    dp.getParent, s".$fn.", ".tmp")
                  try {
                    java.nio.file.Files.copy(sp, tmp,
                      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                    java.nio.file.Files.move(tmp, dp,
                      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                    "copied"
                  } catch {
                    // a replayed/speculative sibling attempt won the
                    // move: the destination holds a COMPLETE copy
                    // (only whole files are ever moved in; on POSIX
                    // rename the loser silently replaces it with the
                    // IDENTICAL bytes — both attempts copy the same
                    // resolved source — and reports `copied`)
                    case _: java.nio.file.FileAlreadyExistsException =>
                      java.nio.file.Files.deleteIfExists(tmp)
                      "exists"
                    case e: Throwable =>
                      java.nio.file.Files.deleteIfExists(tmp)
                      throw e
                  }
                }
              }
            (fn, dc, owner, src, status)
          }
        }
        .toDF("filename", "dest_class", "source_owner", "source_path",
          "status"))
    }
  }

  /** [[resolve]] + [[copy]] + the run summary the reference prints
    * (:97-107): returns (ledger, summary) where summary is one
    * (status, n_files) row per observed status.
    */
  def run(index: DataFrame, originalDir: String, destDir: String,
      smhiSourceDir: Option[String] = None): (DataFrame, DataFrame) = {
    val ledger = copy(resolve(index, originalDir, smhiSourceDir), destDir)
    val summary = ledger.groupBy(col("status"))
      .agg(count(lit(1)).as("n_files"))
      .orderBy(col("status"))
    (ledger, summary)
  }
}
