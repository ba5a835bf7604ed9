package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextAnalysis}
import graft.operators.Dedup

/** Training-corpus preparation composed end-to-end — the LLM-pipeline
  * counterpart of [[IngestQc]]: every operator existed individually
  * (quality scoring, language ID, exact + near dedup, clustering); this
  * is the one job a data-curation deployment runs over a raw document
  * dump.
  *
  * Stages: annotate (lang, quality, tokens) → quality/language gate →
  * exact dedup (canonical = min id per content key) → near-dup
  * clustering (MinHash LSH pairs → connected components, canonical =
  * cluster minimum) → kept corpus + per-stage attrition stats.
  *
  * Scale shape: annotation is pure map-side expression work; the exact
  * dedup is one hash shuffle on the content key; near-dup candidates
  * come from banded LSH (never all-pairs) with the hot-bucket cap;
  * clustering is the adaptive union-find/pointer-jumping operator. At
  * 100 TB nothing here collects unbounded state to the driver.
  */
object CorpusPrep {

  final case class Config(
      minQuality: Double = 0.3,
      dropUnknownLang: Boolean = true,
      exactKeyWords: Int = 8,
      shingleK: Int = 5,
      minJaccard: Double = 0.5,
      // low-entropy gate: docs whose deflate/raw ratio falls below this
      // are repetitive/templated junk. 0.0 disables (default: the
      // synthetic corpus is natural-prose-like, and the threshold is a
      // per-deployment tuning decision)
      minCompressionRatio: Double = 0.0,
      // hot-bucket cap for the near-dup LSH stage
      // ([[graft.operators.Dedup.capBuckets]]): None (default) keeps
      // exact banded recall — the oracle contract — but candidate
      // volume is then QUADRATIC in hot-bucket mass (round-16
      // measurement on q52, the same pipeline: 121k→11.1M candidates
      // for 10× data, driven by boilerplate band buckets of 35→265
      // members whose candidates almost all fail the Jaccard verify).
      // A boilerplate-heavy corpus at deployment scale should set a
      // small cap (the q105 measured pair: 7.6× vs 12.6× per decade) —
      // pairs dropped from one hot band usually recover via their
      // other bands, the documented bounded-recall trade
      maxLshBucket: Option[Int] = None)

  /** What [[run]] returns. `kept` is a lazy anti-join over `flagged`,
    * the one frame `run` leaves cached: annotate → gate → exact flags
    * over the input, read once. Call [[release]] when done consuming
    * `kept` — a forgotten release pins storage memory for the JVM
    * lifetime.
    */
  final case class Frames(
      annotated: DataFrame, // input + lang, quality, tokens
      kept: DataFrame,      // canonical surviving docs (lazy, over flagged)
      stats: DataFrame)(    // (stage, docs) attrition ledger, driver-side
      flagged: DataFrame) {
    def release(): Unit = graft.Frames.release(flagged)
  }

  /** Map-side annotation: language, quality score, token count, and —
    * only when the config's low-entropy gate is on — the compression
    * ratio. The deflate pass is the most expensive per-row annotation,
    * so the default (gate off) must not pay it for a column nothing
    * reads.
    */
  def annotate(docs: DataFrame, text: String,
      cfg: Config = Config()): DataFrame = {
    val ws = Hashing.words(col(text))
    val base = docs
      .withColumn("lang", TextAnalysis.langId(ws))
      .withColumn("quality", TextAnalysis.qualityScore(ws))
      .withColumn("tokens", TextAnalysis.bpeTokenCount(col(text)))
    if (cfg.minCompressionRatio > 0.0)
      base.withColumn("compression", TextAnalysis.compressionRatio(col(text)))
    else base
  }

  /** Quality + language (+ optional low-entropy) gate. */
  def gate(annotated: DataFrame, cfg: Config): DataFrame = {
    // fail with intent, not UNRESOLVED_COLUMN: annotate only adds the
    // column when ITS config enables the gate — a mismatched pair of
    // configs is a caller bug worth naming
    require(cfg.minCompressionRatio <= 0.0 ||
      annotated.columns.contains("compression"),
      "low-entropy gate enabled but input has no 'compression' column: " +
        "pass the same Config to annotate(docs, text, cfg)")
    annotated.filter(gatePredicate(cfg))
  }

  /** The gate as one predicate over [[annotate]]'s columns: the single
    * definition [[gate]] filters on and [[run]] keeps as a flag. A row
    * whose annotation is null (null text) does not pass.
    */
  private def gatePredicate(cfg: Config): Column = {
    val q = col("quality") >= cfg.minQuality
    val c =
      if (cfg.minCompressionRatio > 0.0) q && col("compression") >= cfg.minCompressionRatio
      else q
    if (cfg.dropUnknownLang) c && col("lang") =!= "und" else c
  }

  /** The exact-dedup content key (q41's): leading `exactKeyWords`
    * normalized words — ONE definition shared by the batch stage and
    * the stream, so the two cannot drift.
    */
  private def exactKey(text: String, cfg: Config) =
    array_join(slice(Hashing.words(col(text)), 1, cfg.exactKeyWords), " ")

  /** min(`ids`) over the rows of the same content key. */
  private def exactKeeper(ids: Column, text: String, cfg: Config): Column =
    min(ids).over(Window.partitionBy(exactKey(text, cfg)))

  /** Exact dedup: canonical row = min id per leading-words content key
    * (the q41 key), all rows kept for singleton keys.
    */
  def exactCanonical(
      df: DataFrame, id: String, text: String, cfg: Config): DataFrame =
    df.withColumn("__keeper", exactKeeper(col(id), text, cfg))
      .filter(col(id) === col("__keeper"))
      .drop("__keeper")

  /** Near-dup canonical selection: LSH pairs → connected components →
    * drop every member that is not its cluster's minimum id.
    */
  def nearDupCanonical(
      df: DataFrame, id: String, text: String, cfg: Config): DataFrame = {
    val pairs = Dedup.minhashLshPairs(
      df, id, text, shingleK = cfg.shingleK, minJaccard = cfg.minJaccard,
      maxBucket = cfg.maxLshBucket)
    dropNonCanonical(df, id, Dedup.dupClusters(pairs))
  }

  /** `df` without the rows whose id is not its cluster's minimum in
    * [[Dedup.dupClusters]]' `labels`.
    */
  private def dropNonCanonical(
      df: DataFrame, id: String, labels: DataFrame): DataFrame =
    // no broadcast hint: the non-canonical set is bounded by the dup
    // count, which can be a large corpus fraction — AQE picks the
    // strategy from the actual size
    df.join(
      labels.filter(col("id") =!= col("cluster")).select(col("id").as(id)),
      Seq(id), "left_anti")

  /** Streaming deployment of the front half of [[run]] (annotate → gate
    * → exact dedup) for a continuously-arriving corpus: annotation and
    * gating are map-side per micro-batch, the dedup is
    * [[graft.streaming.Streams.dedupStream]]'s watermark-bounded state
    * (first-seen-wins on the content fingerprint), and checkpointed
    * offsets make each surviving document land exactly once. Near-dup
    * clustering stays a periodic batch compaction over the accumulated
    * output — text-similarity pairs need a global LSH index, which is
    * [[run]]; SEMANTIC near-dups compact incrementally against the
    * durable tiered IVF index ([[compactNearDups]]): new rows upsert
    * into the frozen codebook, only their cells re-evaluate, and a
    * drift-triggered retrain replaces the index atomically.
    *
    * @param tsCol event-time column the dedup watermark advances on
    *              (ingest time works; dedup state is evicted once the
    *              watermark passes it)
    */
  def stream(docs: DataFrame, text: String, tsCol: String,
      cfg: Config = Config()): DataFrame = {
    // dedup on the SAME key the batch exact stage groups by — the
    // leading exactKeyWords content key — not the full text (round-14
    // review: fingerprinting the whole text kept shared-prefix
    // duplicates the batch run drops, and the near-dup compaction pass
    // need not catch them, so the streaming corpus permanently
    // diverged from the batch corpus over identical input). words()
    // lowercases, so dedupStream's internal lower() is a no-op on it.
    val keyed = gate(annotate(docs, text, cfg), cfg)
      .withColumn("__exact_key", exactKey(text, cfg))
    graft.streaming.Streams.dedupStream(keyed, "__exact_key", tsCol)
      .drop("__exact_key")
  }

  /** One compaction's result: the full (id, cell, dropped) semantic
    * ledger over the accumulated corpus, plus what the maintenance pass
    * actually did (`retrained`, `version`) so deployments can alert on
    * drift-triggered retrains.
    */
  final case class Compaction(
      codebook: graft.operators.Ivf.Codebook,
      ledger: DataFrame, // (id: long, cell: int|null, dropped: boolean)
      retrained: Boolean,
      version: Int) {
    /** Releases the codebook's cached levels; the index dir it was
      * loaded from stays. Call this when done consuming: a forgotten
      * release pins one cache entry per compaction pass for the JVM
      * lifetime.
      */
    def release(): Unit = codebook.release()
  }

  /** Incremental SEMANTIC near-dup compaction over the stream's
    * accumulated output: the periodic batch pass [[stream]]'s scaladoc
    * defers to, maintained against a DURABLE tiered IVF index under
    * `indexDir` instead of retraining per pass.
    *
    * Each invocation: load the latest index state (codebook + per-cell
    * typical distance + the (id, cell, dropped) ledger); the DELTA is
    * every accumulated row not yet in the ledger (id-keyed anti-join, so
    * a replayed/restarted compaction is idempotent); if
    * [[graft.operators.Ivf.driftFraction]] of the delta exceeds
    * `maxDriftFraction`, retrain on the full corpus and recompute
    * everything — otherwise assign ONLY the delta with the frozen
    * codebook and re-evaluate the drop policy in AFFECTED CELLS alone
    * (cells are independent under SemDeDup's policy, so untouched
    * cells' verdicts carry forward unchanged — the incremental result
    * is row-identical to a full recompute with the same codebook,
    * pinned by CorpusPrepSpec and the q102 oracle's assignment
    * identity).
    *
    * Drop policy = [[graft.operators.Dedup.semDedup]]'s: a row is
    * dropped iff some smaller-id member of its cell is `tau`-close.
    * Rows whose vector cannot assign (ragged length) keep a NULL cell
    * and are never dropped — visible, not silently binned.
    *
    * A corpus that GROWS in-distribution never trips the drift trigger
    * but outgrows its codebook (k was sized at training): once
    * ledger+delta rows exceed `growthFactor` × the rows at training,
    * the pass retrains regardless of drift.
    *
    * Codebook DEPTH follows [[graft.operators.Dedup.cellDepth]] with
    * no flat tier: a (re)train at `k(n) >= deepMinK` builds the
    * THREE-level codebook — at SemDeDup's corpus-scaled k the
    * two-level assign's Θ(√k·d)-per-row term makes total work n^1.5
    * (3.20 s → 36.9 s per 10× of data at k = 800 → 8000), exactly the
    * asymptote the batch path
    * ([[graft.operators.Dedup.semDedupScaled]]) dodges at the same
    * threshold. The depth is a property of each SAVED state
    * ([[graft.operators.Ivf.load]] sniffs it), so incremental passes
    * keep the frozen codebook's depth and the switch engages at the
    * next growth/drift retrain — the moment k is re-derived from the
    * grown corpus.
    *
    * State writes are versioned (`indexDir/v<N>-<attempt>/…`, each
    * attempt a unique directory) with an atomically renamed `LATEST`
    * marker and a `_COMPLETE` fallback, so a compaction that dies
    * mid-write — or mid-publication — leaves the previous version
    * intact — and a pass that loads its base state THROUGH that
    * fallback (LATEST lost to a crash) still publishes normally,
    * re-materializing the marker.
    *
    * Mutual exclusion (round-19, r18 verdict task 3): each pass takes
    * an exclusive-create `LOCK` file under `indexDir` for its whole
    * duration — an overlapping invocation now fails LOUDLY AT ENTRY
    * instead of at publish time, so two passes can no longer both
    * report success. A lock left by a CRASHED pass (JVM death skips
    * the finally-release) is broken once its age exceeds
    * `lockStaleMs`; size that above the longest expected pass — a
    * premature break re-admits the overlap, which then degrades to the
    * pre-lock protections rather than silence: the publish-time
    * OPTIMISTIC check (LATEST moved since load → abort, attempt dir
    * deleted) and the POST-publish verify (rename overwritten inside
    * the rename→verify instant → abort loudly). Exclusive-create is
    * atomic on HDFS — one winner, full stop; on filesystems whose
    * create is check-then-act (Hadoop's local FS, object stores) the
    * lock plus its token read-back NARROW the overlap window rather
    * than close it, and the same two backstops carry the loudness
    * guarantee.
    */
  def compactNearDups(accumulated: DataFrame, id: String, vec: String,
      indexDir: String, tau: Double,
      k: Long => Int = n => math.max(8L, (n + 249) / 250).toInt,
      driftTolerance: Double = 4.0,
      maxDriftFraction: Double = 0.1,
      growthFactor: Double = 2.0,
      deepMinK: Int = graft.operators.Ivf.DeepMinK,
      lockStaleMs: Long = 60L * 60 * 1000): Compaction =
    compactNearDupsImpl(accumulated, id, vec, indexDir, tau, k,
      driftTolerance, maxDriftFraction, growthFactor, deepMinK,
      lockStaleMs, PublishSeams())

  /** Test seams for the publication race windows (CorpusPrepSpec only —
    * production passes the no-op defaults via [[compactNearDups]]).
    * `readLatest` replaces the marker read at base-state LOAD and at
    * the write-time OPTIMISTIC check (injecting the stale view a racer
    * holds after another pass publishes); the POST-publish verify
    * always reads the real marker — that read is the mechanism under
    * test. `afterRename` runs inside the rename→verify window,
    * simulating a racer's rename landing there.
    */
  private[graft] final case class PublishSeams(
      readLatest: Option[() => Option[String]] = None,
      afterRename: () => Unit = () => ())

  private[graft] def compactNearDupsImpl(
      accumulated: DataFrame, id: String, vec: String,
      indexDir: String, tau: Double,
      k: Long => Int,
      driftTolerance: Double,
      maxDriftFraction: Double,
      growthFactor: Double,
      deepMinK: Int,
      lockStaleMs: Long,
      seams: PublishSeams): Compaction = {
    import graft.operators.{Dedup, Ivf, Similarity}
    require(growthFactor > 1.0, s"growthFactor must exceed 1: $growthFactor")
    require(lockStaleMs > 0, s"lockStaleMs must be positive: $lockStaleMs")
    // the ledger keys by long: a string/UUID id would cast("long") to
    // all-NULL silently — every later delta anti-join then matches
    // nothing and the compaction reprocesses the whole corpus forever
    // (round-15 review); pre-assign a dense long id for other key types
    Similarity.integralIdType(accumulated, id)
    val spark = accumulated.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dirPath.getFileSystem(conf)
    val latestPath = new org.apache.hadoop.fs.Path(dirPath, "LATEST")
    val lockPath = new org.apache.hadoop.fs.Path(dirPath, "LOCK")
    // per-attempt token: release only deletes a lock that still holds
    // OUR token, so a pass whose stale lock was broken by a newer one
    // does not delete that newer pass's lock on its way out (residual:
    // the read→delete instant of a pass that ran past lockStaleMs —
    // size the staleness above the longest expected pass)
    val lockToken = java.util.UUID.randomUUID().toString

    def readLock(): Option[String] =
      if (!fs.exists(lockPath)) None
      else {
        val in = fs.open(lockPath)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
        finally in.close()
      }

    /** Exclusive-create lock acquisition (r18 verdict task 3): create
      * with overwrite=false, then READ BACK. On HDFS the create itself
      * is atomic — one winner, full stop. On a filesystem whose
      * exclusive create is check-then-act (the local FS) two racers
      * can both survive the create; the read-back catches the usual
      * interleaving (the loser sees the winner's token) but NOT a
      * racer whose overwrite lands after the winner's read-back — on
      * such filesystems the lock NARROWS the overlap window and the
      * publish-time optimistic check + post-publish verify remain the
      * loud backstops.
      */
    def acquireLock(): Unit = {
      if (!fs.exists(dirPath)) fs.mkdirs(dirPath)
      def tryCreate(): Boolean =
        try {
          val out = fs.create(lockPath, false)
          try out.write(lockToken.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      val created = tryCreate() || {
        // a crashed pass's lock (JVM death skips the finally) is broken
        // once its age exceeds lockStaleMs; a LIVE overlapping pass
        // fails here loudly instead — at entry, not at publish time
        val age = try {
          System.currentTimeMillis() -
            fs.getFileStatus(lockPath).getModificationTime
        } catch {
          // the holder released between our create attempt and the
          // status read: retry the create, don't break anything
          case _: java.io.FileNotFoundException => -1L
        }
        if (age > lockStaleMs) {
          log.warn(s"breaking stale compaction lock at $lockPath " +
            s"(age ${age}ms > ${lockStaleMs}ms — holder presumed crashed)")
          // break by RENAME-aside, not delete (round-19 review): two
          // passes can both observe the same stale lock, and a
          // delete-based break let the slower one remove the faster
          // one's FRESHLY created lock — rename is atomic, so exactly
          // one breaker moves the stale file; the loser's rename
          // no-ops (source gone) and its create below loses loudly
          val aside = new org.apache.hadoop.fs.Path(
            dirPath, s".LOCK.broken.$lockToken")
          val won =
            try fs.rename(lockPath, aside)
            catch { case _: java.io.IOException => false }
          if (won) {
            try fs.delete(aside, false)
            catch { case _: java.io.IOException => () }
          }
        }
        tryCreate()
      }
      if (!created || !readLock().contains(lockToken))
        throw new IllegalStateException(
          s"concurrent compaction detected: lock at $lockPath is held " +
            s"by another pass (stale after ${lockStaleMs}ms) — " +
            "compaction invocations are serialized per indexDir")
    }

    def releaseLock(): Unit =
      try if (readLock().contains(lockToken)) { fs.delete(lockPath, false); () }
      catch {
        case e: java.io.IOException =>
          log.warn(s"failed to release compaction lock $lockPath — " +
            s"the next pass will break it after ${lockStaleMs}ms", e)
      }

    acquireLock()
    try {
    // state dirs carry an attempt-unique suffix: two OVERLAPPING
    // compactions targeting the same version number then write to
    // DIFFERENT directories, so neither can tear a version the other
    // already published (round-15 review); LATEST stores the dir NAME
    val StateName = "v(\\d+)(?:-[0-9a-f]+)?".r
    def versionOf(name: String): Int = name match {
      case StateName(v) => v.toInt
      case _ => throw new IllegalArgumentException(
        s"unrecognized index state name '$name' under $indexDir " +
          "(corrupt LATEST marker?)")
    }
    def completeMarker(name: String) =
      new org.apache.hadoop.fs.Path(s"$indexDir/$name/_COMPLETE")

    /** The marker as physically on disk — the post-publish verify must
      * use THIS read even under a test seam (the seam injects the stale
      * observed view; the verify is the real-world cross-check).
      */
    def readLatestReal(): Option[String] =
      if (!fs.exists(latestPath)) None
      else {
        val in = fs.open(latestPath)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
        finally in.close()
      }

    /** The marker as THIS pass observes it (load + optimistic check);
      * seam-injectable to stage publication races in specs.
      */
    def readLatestRaw(): Option[String] =
      seams.readLatest.fold(readLatestReal())(f => f())

    /** The highest _COMPLETE-marked state dir — the fallback that makes
      * the delete-then-rename publication window survivable (a crash
      * inside it otherwise lost the whole version history to a
      * fullBuild(1)).
      */
    def completeFallback(): Option[String] =
      if (!fs.exists(dirPath)) None
      else fs.listStatus(dirPath).toSeq
        .map(_.getPath.getName)
        .filter(n => StateName.pattern.matcher(n).matches())
        .filter(n => fs.exists(completeMarker(n)))
        .sortBy(n => (versionOf(n), n))
        .lastOption

    def fullBuild(version: Int, observedRaw: Option[String]): Compaction = {
      val n = accumulated.count()
      val kn = k(n)
      val cb = Ivf.train(accumulated, vec, id, kn,
        Dedup.cellDepth(kn, flatMaxK = 0, deepMinK))
      try {
        val ledger = dropLedger(Ivf.assign(accumulated, vec, cb, "cell"), id)
        // the drift baseline freezes HERE, at training time —
        // incremental passes carry it forward unchanged (recomputing it
        // over drifted data ratchets the baseline and the trigger never
        // fires)
        write(version, cb, ledger, retrained = true,
          Ivf.typicalCoarseD2(accumulated, vec, id, cb), rowsAtTraining = n,
          observedRaw)
      } catch {
        case e: Throwable => cb.release(); throw e
      }
    }

    /** The semDedup drop policy over an assigned frame: dropped iff a
      * smaller-id same-cell member is tau-close; NULL-cell rows kept.
      */
    def dropLedger(assigned: DataFrame, idC: String): DataFrame = {
      val dropped = Dedup.embeddingNearDupPairs(
          assigned.filter(col("cell").isNotNull), idC, vec, tau, Some("cell"))
        .select(col("id_b").as("__did")).distinct()
      assigned.join(dropped, col(idC) === col("__did"), "left")
        .select(col(idC).cast("long").as("id"), col("cell"),
          col("__did").isNotNull.as("dropped"))
    }

    def write(version: Int, cb: Ivf.Codebook, ledger: DataFrame,
        retrained: Boolean, typical: Map[Int, Double],
        rowsAtTraining: Long, observedRaw: Option[String]): Compaction = {
      val name =
        s"v$version-${java.util.UUID.randomUUID().toString.take(8)}"
      val d = s"$indexDir/$name"
      Ivf.save(cb, s"$d/codebook")
      typical.toSeq.toDF("cell", "d2")
        .repartition(1).write.mode("overwrite").parquet(s"$d/typical")
      Seq((rowsAtTraining, retrained)).toDF("rows_at_training", "retrained")
        .repartition(1).write.mode("overwrite").parquet(s"$d/trainmeta")
      // pin the column order: a using-column join upstream moves its key
      // first, and the ledger's layout is part of the on-disk contract
      ledger.select(col("id"), col("cell"), col("dropped"))
        .write.mode("overwrite").parquet(s"$d/ledger")
      // optimistic concurrency check BEFORE the completeness marker
      // (round-16: marking first let an aborted racer's stale dir win
      // the crash-window fallback): if another compaction published
      // since this one loaded its base state, silently overwriting
      // LATEST would discard that pass's ledger — abort loudly instead.
      // Compare RAW-vs-RAW: observedRaw is the marker as read at load
      // time, possibly None when the load recovered the base state via
      // the _COMPLETE fallback after a crash in the publication window
      // — a raw compare against the fallback-resolved NAME wedged every
      // subsequent pass with a phantom "concurrent compaction"
      // (round-16 advice), defeating the fallback's purpose.
      val nowRaw = readLatestRaw()
      if (nowRaw != observedRaw) {
        // never _COMPLETE-marked, so the fallback cannot resurrect it —
        // and a corpus-sized parquet ledger per aborted racer is not
        // worth keeping for inspection
        fs.delete(new org.apache.hadoop.fs.Path(d), true)
        throw new IllegalStateException(
          s"concurrent compaction detected: LATEST moved from " +
            s"$observedRaw to $nowRaw while this pass ran — " +
            "serialize compaction invocations (this attempt's state " +
            "dir was removed)")
      }
      // completeness marker: the crash-window fallback only trusts
      // state dirs that finished all their parquet writes AND won the
      // optimistic check
      fs.create(completeMarker(name), true).close()
      // publish last, via temp + atomic rename; the unavoidable
      // delete→rename window is covered by the _COMPLETE fallback above
      val tmp = new org.apache.hadoop.fs.Path(dirPath, s".LATEST.tmp$name")
      val out = fs.create(tmp, true)
      try out.write(name.getBytes("UTF-8")) finally out.close()
      if (fs.exists(latestPath)) fs.delete(latestPath, false)
      require(fs.rename(tmp, latestPath),
        s"failed to publish $latestPath: index state would be invisible")
      seams.afterRename()
      // post-publish verify (round-17, r16 verdict task 3): the
      // optimistic check above still leaves a check→publish window —
      // two racers can BOTH pass it before either renames, and the
      // last rename then silently discarded the other's published
      // ledger (both dirs _COMPLETE-marked). A real lock is out of
      // scope (invocations are documented-serialized); what this read
      // buys is a LOUD loser: re-read the marker immediately after
      // renaming and require our own name — a mismatch means another
      // pass renamed inside the window and this publication is already
      // superseded-by-discard. Abort like the pre-publish path:
      // delete the attempt dir so its _COMPLETE copy can never win a
      // crash-window fallback over the racer that actually holds
      // LATEST (it was LATEST for at most the rename→verify instant;
      // a pass that loaded it in that instant fails loudly on its own
      // optimistic check or on the missing files).
      val published = readLatestReal()
      if (!published.contains(name)) {
        fs.delete(new org.apache.hadoop.fs.Path(d), true)
        throw new IllegalStateException(
          s"concurrent compaction detected post-publish: LATEST reads " +
            s"${published.getOrElse("<missing>")} immediately after this " +
            s"pass renamed it to $name — another pass renamed inside the " +
            "publication window; this attempt's state dir was removed. " +
            "Serialize compaction invocations per indexDir.")
      }
      // prune superseded versions (keep version-1 for rollback): each
      // version holds a FULL ledger copy, so an unpruned daily
      // compaction accumulates corpus-sized state × pass count
      fs.listStatus(dirPath).toSeq
        .map(_.getPath.getName)
        .filter(n => StateName.pattern.matcher(n).matches())
        .filter(n => versionOf(n) < version - 1)
        .foreach(n => fs.delete(
          new org.apache.hadoop.fs.Path(s"$indexDir/$n"), true))
      Compaction(cb, spark.read.parquet(s"$d/ledger"), retrained, version)
    }

    // raw marker and fallback-resolved name tracked SEPARATELY: the
    // resolved name picks the base state to load; the raw value is what
    // the publish-time optimistic check compares against
    val observedRaw = readLatestRaw()
    val observedLatest = observedRaw.orElse(completeFallback())
    observedLatest match {
      case None => fullBuild(1, observedRaw = None)
      case Some(prevName) =>
        val prev = versionOf(prevName)
        val d = s"$indexDir/$prevName"
        val cb = Ivf.load(spark, s"$d/codebook")
        val typical = spark.read.parquet(s"$d/typical")
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val rowsAtTraining = spark.read.parquet(s"$d/trainmeta")
          .collect()(0).getLong(0)
        val ledger = spark.read.parquet(s"$d/ledger")
        graft.Frames.scoped { s =>
          val delta = s.cache(accumulated
            .join(ledger.select(col("id").as(id)), Seq(id), "left_anti"))
          val deltaN = delta.count()
          // no-op fast path FIRST: the growth check below pays a
          // corpus-sized ledger scan a quiet stream must not pay
          if (deltaN == 0) Compaction(cb, ledger, retrained = false, prev)
          // growth trigger (round-15 review): k is sized n/250 AT
          // TRAINING — in-distribution growth never trips the drift
          // trigger, but it inflates cell populations and the
          // intra-cell pair stage is quadratic in them. Retrain once
          // the corpus outgrows its codebook.
          else if (ledger.count() + deltaN > growthFactor * rowsAtTraining
              || Ivf.driftFraction(delta, vec, cb, typical,
                driftTolerance) > maxDriftFraction) {
            cb.release()
            fullBuild(prev + 1, observedRaw)
          } else {
            val newRows = s.cache(Ivf.assign(delta, vec, cb, "cell")
              .select(col(id).cast("long").as("id"), col("cell")))
            val affected = newRows.select("cell").filter(col("cell").isNotNull)
              .distinct()
            // affected cells re-evaluate over ALL their members (old +
            // new): join the old members' vectors back in by id
            val oldMembers = ledger.join(affected, Seq("cell"))
              .select(col("id"), col("cell"))
              .join(accumulated.select(col(id).cast("long").as("id"),
                col(vec)), Seq("id"))
            val newMembers = delta
              .select(col(id).cast("long").as("id"), col(vec))
              .join(newRows.filter(col("cell").isNotNull), Seq("id"))
            val recomputed = dropLedger(oldMembers.unionByName(newMembers), "id")
            val untouched = ledger
              .join(affected, Seq("cell"), "left_anti")
              // delta rows with NULL cells are in no affected cell;
              // carry them as kept like the full build does
              .unionByName(newRows.filter(col("cell").isNull)
                .withColumn("dropped", lit(false)))
            // typical + rowsAtTraining carry forward UNCHANGED: the
            // drift baseline is frozen at training time
            write(prev + 1, cb,
              untouched.unionByName(recomputed), retrained = false,
              typical, rowsAtTraining, observedRaw)
          }
        }
    }
    } finally releaseLock()
  }

  /** When the near-dup stage runs UNCAPPED (the exact-recall default)
    * and its measured candidate mass exceeds this many candidates PER
    * INPUT DOC, [[run]] logs an advisory to set
    * [[Config.maxLshBucket]]. Derivation: the round-16 scaling
    * measurement read ~0.6 candidates/doc at sf1 and ~5.5 at sf10 —
    * a 9×-per-decade quadratic signature; 10 sits just past the
    * measured sf10 point, so a corpus reads the advice one decade
    * before the candidate join dominates its wall clock.
    */
  private val AdviseCandidatesPerDoc = 10.0
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The advisory decision as a pure function (spec-testable; the
    * slf4j call in [[run]] is just transport): Some(message) when the
    * near-dup stage is uncapped and its measured candidate mass has
    * the quadratic hot-bucket signature, None otherwise.
    */
  private[graft] def capAdvice(
      profile: graft.operators.Dedup.LshBucketProfile,
      nDocs: Long, cfg: Config): Option[String] =
    if (cfg.maxLshBucket.isEmpty && nDocs > 0 &&
        profile.candidatePairs > AdviseCandidatesPerDoc * nDocs)
      Some(
        s"near-dup LSH candidate volume is ${profile.candidatePairs} " +
          s"pairs for $nDocs docs (max bucket ${profile.maxBucket}) — " +
          "quadratic hot-bucket signature; consider " +
          "Config.maxLshBucket (bounded recall trade, see " +
          "Dedup.capBuckets) before the next data decade")
    else None

  /** Runs the whole pipeline and its attrition ledger with the driver
    * work kept to one cached frame, one pin per stage and one action per
    * question:
    *
    *  - ONE cached flagged frame carries annotate → gate → exact:
    *    `__gate` is [[gatePredicate]], and `__exact` marks the row that
    *    is its content key's minimum id among the GATED rows
    *    (`min(when(gate, id))` over the [[exactKeeper]] window — a key
    *    whose smallest id is gated out keeps its smallest gated id, as
    *    [[exactCanonical]] over [[gate]] does). `exact` is a filter over
    *    it.
    *  - ONE pinned LSH sketch of `exact` ([[Dedup.lshSketch]]) feeds
    *    both the hot-bucket profile and the candidate join; its pin is
    *    the action that fills the flagged frame's cache. The near-dup
    *    pairs are pinned in turn.
    *  - ONE action answers the input, gate and exact counts, the
    *    profile, and whether the exact rows' ids are unique (an id-only
    *    distinct count; the text is never shuffled for it): it collects
    *    the flagged frame's one-row count aggregate together with the
    *    profile frame.
    *  - `near_dup` is counted on the driver when [[Dedup.clusterLabels]]
    *    took [[Dedup.dupClusters]]' bounded driver branch and the exact
    *    ids are unique: every non-canonical label then removes exactly
    *    one exact row, so `near_dup = exact − |labels with id ≠
    *    cluster|` and no Spark job runs for it. A repeated id removes
    *    every row that carries it, so then, and on the distributed
    *    branch (whose labels never come to the driver), `kept.count()`
    *    is the count.
    *
    * `kept` is returned lazy — an anti-join of the cached flagged frame
    * against the non-canonical labels — so `run` fills no cache for it.
    * The flagged frame STAYS cached for `kept`'s consumers: call
    * [[Frames.release]] when done. The sketch and pair pins go with the
    * ContextCleaner once unreferenced.
    *
    * The ledger also records the near-dup stage's hot-bucket mass over
    * the exact-deduped set the LSH stage actually processes —
    * `lsh_max_bucket` (largest (band, key) bucket) and
    * `lsh_candidate_pairs` (Σ m·(m−1)/2, the exact uncapped
    * candidate-join volume, quadratic in hot-bucket mass): the numbers
    * a deployment needs to size [[Config.maxLshBucket]] BEFORE the
    * next data decade. When they cross [[AdviseCandidatesPerDoc]] and
    * no cap is configured, an slf4j warning names the knob. The
    * default stays exact-recall — the advice is informational.
    *
    * The id column must be integral (the near-dup clustering labels in
    * long — [[graft.operators.Dedup.dupClusters]] rejects other types
    * loudly); pre-assign a dense long id for URL/UUID-keyed corpora.
    */
  def run(docs: DataFrame, id: String, text: String,
      cfg: Config = Config()): Frames = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ann = annotate(docs, text, cfg)
    graft.Frames.scoped { s =>
      val flagged = s.keep(ann
        .withColumn("__gate", coalesce(gatePredicate(cfg), lit(false)))
        .withColumn("__exact", col("__gate") &&
          col(id) === exactKeeper(when(col("__gate"), col(id)), text, cfg)))
      val exact = flagged.filter(col("__exact")).drop("__gate", "__exact")
      val sketch = graft.Frames.pin(Dedup.lshSketch(exact, id, text, cfg.shingleK))
      // the profile row and the count row, as a union: a cross join of
      // the two would cost one more job, for its broadcast
      val Array(profileRow, counts) = Dedup.lshProfileFrame(sketch)
        .unionByName(flagged.agg(count(lit(1)).as("input"),
          count_if(col("__gate")).as("gated"),
          count_if(col("__exact")).as("exact"),
          count_distinct(when(col("__exact"), col(id))).as("exact_ids")),
          allowMissingColumns = true)
        .collect().sortBy(_.isNullAt(0))
      val profile = Dedup.lshProfile(profileRow)
      val nExact = counts.getAs[Long]("exact")
      capAdvice(profile, nExact, cfg).foreach(log.warn)
      val pairs = graft.Frames.pin(
        Dedup.lshPairsFromSketch(sketch, cfg.minJaccard, cfg.maxLshBucket))
      val (labels, onDriver) = Dedup.clusterLabels(pairs)
      val kept = dropNonCanonical(exact, id, labels)
      val nNear = onDriver match {
        case Some(rows) if counts.getAs[Long]("exact_ids") == nExact =>
          nExact - rows.count { case (i, c) => i != c }
        case _ => kept.count()
      }
      val stats = Seq(
        ("input", counts.getAs[Long]("input")),
        ("quality_lang_gate", counts.getAs[Long]("gated")),
        ("exact_dedup", nExact),
        ("near_dup", nNear),
        ("lsh_max_bucket", profile.maxBucket),
        ("lsh_candidate_pairs", profile.candidatePairs)
      ).toDF("stage", "docs")
      Frames(ann, kept, stats)(flagged)
    }
  }
}
