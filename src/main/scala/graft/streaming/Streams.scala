package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming expression of the reference's two incremental
  * jobs (SURVEY.md §2.9): the scheduled ingest (new-bin detection +
  * enrichment, code/ifcb_ingest_and_qc.R:1-2,173-181) and the daily HAB
  * alert (code/ifcb_hab_alert.R:21,34,197-200).
  *
  * The reference hand-rolls incrementality (mtime caches, anti-joins
  * against processed logs, CSV appends). Spark's file source + checkpoint
  * subsumes all of it: each file is processed exactly once, state lives in
  * the checkpoint, and late data is governed by an explicit watermark
  * instead of "files arrive complete".
  */
object Streams {

  /** Incremental file ingest (the `ifcb_ingest_and_qc` shape): a file
    * source that discovers new files per trigger — the checkpointed
    * replacement for the reference's anti-join new-bin detection.
    */
  def incrementalFileSource(
      spark: SparkSession, path: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)

  /** Daily per-key maximum vs a warning-level dim — the HAB alert
    * (hab_alert.R:106-119 per-taxon daily max; :197-200 alert predicate)
    * as a watermarked tumbling-window aggregation joined to a broadcast
    * dim. Emits only keys whose daily max exceeds their warning level.
    *
    * @param events  streaming frame with `tsCol`, `keyCol`, `valueCol`
    * @param warn    static dim (`keyCol`, `warning_level`)
    */
  def dailyAlerts(
      events: DataFrame, warn: DataFrame,
      tsCol: String, keyCol: String, valueCol: String,
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("day"), col(keyCol))
      .agg(max(col(valueCol)).as("daily_max"))
      .join(broadcast(warn), Seq(keyCol))
      .filter(col("daily_max") > col("warning_level"))
      .select(col("day.start").as("day"), col(keyCol),
        col("daily_max"), col("warning_level"))

  /** Alert notification sink (hab_alert.R:292-299 SMTP send): collect the
    * small alert batch on the driver and hand it to a notifier —
    * `foreachBatch` is the streaming analog of the reference's
    * render-then-email step.
    */
  def notifySink(alerts: DataFrame, checkpoint: String)(
      notify: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    alerts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => notify(batch, id) }

  /** [[notifySink]] wired to the [[graft.sources.Mailer]] transport seam
    * (hab_alert.R:292-299): one mail PER CLOSED ALERT DAY, with the day
    * in the subject — matching [[graft.jobs.HabAlert]]'s dated
    * "ALERT - yyyy-MM-dd" subjects. A catch-up batch after downtime can
    * close several day windows at once, so the batch is grouped by its
    * `day` column rather than collapsed into one undated mail.
    * `dailyAlerts` emits only threshold-exceeding rows, so every emitted
    * day IS an alert day; empty batches send nothing.
    *
    * Delivery semantics: checkpointed offsets make this at-LEAST-once —
    * `foreachBatch` replays a batch whose send succeeded but whose
    * commit didn't. The dated subject is the idempotence key; a
    * transport that must not double-send dedupes on it (the reference's
    * daily cron has the same replay window).
    */
  def mailSink(alerts: DataFrame, checkpoint: String,
      mailer: graft.sources.Mailer, from: String, to: Seq[String],
      subjectPrefix: String): DataStreamWriter[org.apache.spark.sql.Row] =
    notifySink(alerts, checkpoint) { (batch, _) =>
      // ONE collect: against a replayable source, per-day filters would
      // re-evaluate the upstream lineage once per alert day of a
      // multi-day catch-up batch. Alert batches are small (one row per
      // exceeded threshold per day) — group the collected rows driver-side.
      val dated = batch.withColumn(
        "__day", date_format(col("day"), "yyyy-MM-dd"))
      val cols = dated.columns.filterNot(_ == "__day")
      val dayIdx = dated.columns.indexOf("__day")
      dated.collect()
        .groupBy(_.getString(dayIdx))
        .toSeq.sortBy(_._1)
        .foreach { case (day, rows) =>
          val trimmed = rows.toSeq.map { r =>
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq.zipWithIndex.collect { case (v, i) if i != dayIdx => v })
          }
          val html = graft.sources.Reports.htmlTable(cols, trimmed,
            s"$subjectPrefix daily maxima above warning level ($day)")
          mailer.send(from, to, s"$subjectPrefix ALERT - $day", html)
        }
    }

  /** Streaming feature extraction: new PNG files flow through the full
    * kernel — decode → segmentation → slim features — as they arrive,
    * exactly once per file. This is the reference's scheduled "extract
    * features for new bins" job (extract_slim_features.py over new
    * data) as a checkpointed stream: the kernel is partition-local, so
    * the stream scales like the batch path.
    *
    * PNG-only by contract (round-12; the scaladoc previously still
    * promised raw ROI payloads): the `*.png` glob admits only container
    * images and the file NAME must carry the roi id as trailing digits
    * (`...<digits>.png`). Raw ROI streams go through
    * [[graft.sources.RoiSource]] + the batch kernel instead.
    *
    * DEAD-LETTER CONTRACT (round-13 review): a corrupt payload or
    * unparseable name must NOT throw inside the stream's map — the
    * checkpointed source would replay the same batch forever, turning
    * one bad file into a permanent pipeline wedge (the batch path
    * dead-letters and keeps running; streams get the same altitude).
    * Bad files surface as rows with `error` set and null feature
    * columns; [[quarantinedSink]] / [[featureStreamQuarantined]] is the
    * default deployment that routes them to a dead-letter CSV so no
    * caller has to remember the `filter($"error".isNotNull)` split.
    *
    * @param path directory watched via the binaryFile stream source
    */
  def featureStream(spark: SparkSession, path: String,
                    maxFilesPerTrigger: Int = 100): DataFrame = {
    import spark.implicits._
    // streaming sources need the schema up front; binaryFile's is fixed
    val binaryFileSchema = StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
    val files = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.png")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
      .select(col("path"), col("content"))
    files.as[(String, Array[Byte])].map { case (p, bytes) =>
      val attempt = scala.util.Try {
        // the *.png glob makes non-container bytes definitionally
        // corrupt: without this gate, decodeImage's raw-payload
        // fallback (caller dims 0×0) emitted a plausible-looking
        // all-degenerate feature row for a truncated file, silently
        // (round-12 review)
        require(graft.multimodal.Media.isContainerImage(bytes),
          s"corrupt image payload at $p: no decodable container magic")
        val (px, w, h) = graft.multimodal.Media.decodeImage(bytes, 0, 0)
        // no silent roi_id 0 (round-12 review): the old getOrElse(0L)
        // collided every digitless name on roi_id 0, corrupting
        // per-ROI joins; the lookbehind keeps a 19+-digit run from
        // silently matching as its own last 18 digits
        val roiId = "(?<!\\d)(\\d{1,18})\\.png$".r.findFirstMatchIn(p)
          .map(_.group(1).toLong)
          .getOrElse(throw new IllegalArgumentException(
            s"cannot extract a roi id from '$p': the stream contract " +
              "requires names ending in 1-18 digits before .png"))
        graft.features.Features.computeFromRoi(roiId,
          graft.features.Segmentation.Gray(h, w, px))
      }
      attempt match {
        case scala.util.Success(row) => (p, null: String, Some(row))
        case scala.util.Failure(scala.util.control.NonFatal(e)) =>
          (p, s"${e.getClass.getSimpleName}: ${e.getMessage}",
            None: Option[graft.features.Features.FeatureRow])
        case scala.util.Failure(e) => throw e
      }
    }.toDF("path", "error", "features")
      .select(col("path"), col("error"), col("features.*"))
  }

  /** Dead-letter routing for [[featureStream]] (or any stream carrying a
    * `path` + error column): each micro-batch SPLITS — error-flagged rows
    * land under `quarantineDir/batch_id=<id>/` as CSV `(path, error)`
    * (readers of `quarantineDir` see `batch_id` back as a partition
    * column), clean rows flow to `onClean` with the error column
    * dropped. This closes the round-13 dead-letter contract at the
    * deployment layer: without a built-in splitter, an inattentive
    * caller counts bad files as null-feature rows (round-13 VERDICT
    * residual #3).
    *
    * Replay semantics: EXACTLY-ONCE on read (round-15, closing the
    * round-14 at-least-once residual). `foreachBatch` re-runs a batch
    * that crashed between this write and the checkpoint commit; the old
    * flat `Append` then held BOTH copies of the batch's rows. Keying
    * the write by batch id with `Overwrite` makes the replay land on
    * its own subdirectory and replace the half-written first attempt —
    * batch content is deterministic under replay (same source files),
    * so the directory as a whole always holds exactly one copy per
    * batch. Clean-row delivery keeps whatever idempotency `onClean`
    * provides (the default deployment below anti-joins by path).
    *
    * Migration note: a quarantine dir written by the pre-round-15 flat
    * Append layout holds root-level part files; Spark's partition
    * discovery refuses mixed depths, so run
    * [[migrateQuarantineLayout]] once before pointing this sink at an
    * old directory — it moves the legacy files into `batch_id=-1/`.
    */
  def quarantinedSink(stream: DataFrame, quarantineDir: String,
      checkpoint: String, errorCol: String = "error")(
      onClean: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the batch feeds two actions; without a cache the feature
        // kernel upstream re-executes for each (same discipline as
        // IngestQc.write)
        graft.Frames.scoped { s =>
          val cached = s.cache(batch)
          // newlines in a decoder message would split the audit row
          // under the default multiLine=false read-back (round-14
          // review) — flatten them before the CSV write
          val bad = cached.filter(col(errorCol).isNotNull)
            .select(col("path"),
              regexp_replace(col(errorCol), "[\\r\\n]+", " ").as("error"))
          if (!bad.isEmpty)
            bad.coalesce(1).write
              .mode(org.apache.spark.sql.SaveMode.Overwrite)
              .option("header", "true")
              .csv(s"$quarantineDir/batch_id=$id")
          onClean(cached.filter(col(errorCol).isNull).drop(errorCol), id)
        }
      }
      .start()

  /** One-time migration of a pre-round-15 FLAT quarantine dir into the
    * `batch_id=N` partitioned layout [[quarantinedSink]] writes
    * (round-16 verdict task 5): every root-level data file (the old
    * layout's `Append` part files) moves into a `batch_id=-1/`
    * subdirectory, so partition discovery sees one uniform depth and a
    * read of `quarantineDir` returns the union — legacy rows carry
    * batch_id −1, a value no real micro-batch can claim. Without the
    * migration, partition discovery anchors on the leaf dirs and
    * SILENTLY DROPS the root-level legacy rows (StreamsSpec pins it) —
    * quiet audit-trail loss, not even a loud refusal.
    *
    * Idempotent: a second run (or a resume after a crash mid-move)
    * finds fewer/no root-level files and moves only what remains.
    * LOUD on states it cannot interpret rather than guessing: a
    * root-level subdirectory that is not a `batch_id=*` partition
    * (unknown layout — not this sink's dir), or a destination name
    * collision (a `batch_id=-1` dir already holding a same-named file
    * that ALSO still exists at root — two different writers, not a
    * resumable half-move). Hidden files (`_SUCCESS`, `.crc` shadows)
    * stay put; Spark readers ignore them at any depth.
    *
    * @return number of files moved (0 = already migrated or empty)
    */
  def migrateQuarantineLayout(spark: SparkSession,
      quarantineDir: String): Int = {
    val dir = new org.apache.hadoop.fs.Path(quarantineDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val entries = fs.listStatus(dir).toSeq
    val visible = entries.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val (dirs, files) = visible.partition(_.isDirectory)
    val alien = dirs.map(_.getPath.getName)
      .filterNot(_.matches("batch_id=-?\\d+"))
    require(alien.isEmpty,
      s"$quarantineDir holds non-partition subdirectories " +
        s"(${alien.mkString(", ")}): not a quarantine sink layout — " +
        "refusing to migrate")
    if (files.isEmpty) return 0
    val legacy = new org.apache.hadoop.fs.Path(dir, "batch_id=-1")
    if (!fs.exists(legacy)) fs.mkdirs(legacy)
    files.foreach { f =>
      val dst = new org.apache.hadoop.fs.Path(legacy, f.getPath.getName)
      require(!fs.exists(dst),
        s"migration collision: ${f.getPath} and $dst both exist — " +
          "two writers produced same-named files; resolve manually")
      require(fs.rename(f.getPath, dst),
        s"failed to move ${f.getPath} to $dst")
    }
    files.size
  }

  /** The DEFAULT streaming feature-extraction deployment (the IngestQc
    * scheduled shape): [[featureStream]] over `path`, poison files
    * quarantined to `quarantineDir`, clean feature rows appended
    * idempotently (anti-join on `path`, the K3 semantics) to
    * `featuresDir` as headered CSV — so a replayed half-written batch
    * cannot double-count a ROI, and a bad file can never masquerade as
    * a null-feature row.
    */
  def featureStreamQuarantined(spark: SparkSession, path: String,
      featuresDir: String, quarantineDir: String, checkpoint: String,
      maxFilesPerTrigger: Int = 100): org.apache.spark.sql.streaming.StreamingQuery = {
    // the anti-join universe is read ONCE at deployment start, not per
    // micro-batch (round-14 review): the checkpointed source never
    // re-delivers a file within a run, so the only replay risk is the
    // last half-written batch of the PREVIOUS run — keys present on
    // disk at start cover exactly that, while a per-batch re-read of
    // the accumulated history made each batch's cost grow with stream
    // lifetime (quadratic total work on a long-lived deployment)
    graft.Frames.scoped { held =>
      val existingAtStart = {
        val p = new org.apache.hadoop.fs.Path(featuresDir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // gate on NON-HIDDEN data files, not bare listStatus: a dir
        // holding only _SUCCESS (an all-poison first run) or _temporary
        // (a crashed first append) otherwise drives spark.read.csv into
        // UNABLE_TO_INFER_SCHEMA at exactly the restart this recovery
        // path exists for
        val hasData = fs.exists(p) && fs.listStatus(p).exists { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        if (hasData)
          // pinned schema + FAILFAST, the IngestQc state-read discipline:
          // a lenient inferred read turns a malformed state row into a
          // null anti-join key that never matches, silently duplicating
          // replayed rows
          Some(held.keep(spark.read
            .schema(featureCsvSchema)
            .option("header", "true")
            .option("mode", "FAILFAST")
            .option("enforceSchema", "false")
            .csv(featuresDir)
            .select(col("path"))))
        else None
      }
      val q = quarantinedSink(featureStream(spark, path, maxFilesPerTrigger),
          quarantineDir, checkpoint) { (clean, _) =>
        // the all-poison batch must not run an empty write job (it would
        // also seed the _SUCCESS-only dir state guarded above)
        if (!clean.isEmpty)
          graft.sources.Sinks.appendNew(clean, existingAtStart, Seq("path"), featuresDir)
      }
      // the cached path universe is kept by a started query and released
      // when THIS query terminates (a failed start releases it with the
      // scope) — repeated deploys in one session otherwise accumulate
      // cache entries
      existingAtStart.foreach { df =>
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
            if (e.id == q.id) {
              graft.Frames.release(df)
              spark.streams.removeListener(this)
            }
        }
        spark.streams.addListener(listener)
      }
      q
    }
  }

  /** The quarantined feature sink's on-disk CSV schema: `path` plus the
    * slim-feature columns, derived from the same [[graft.features.Features.FeatureRow]]
    * the stream emits — one source of truth, so the restart-time
    * anti-join read validates instead of inferring (the IngestQc
    * pinned-state-schema discipline).
    */
  private[streaming] val featureCsvSchema: StructType = StructType(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType) +:
      org.apache.spark.sql.Encoders.product[graft.features.Features.FeatureRow]
        .schema.fields.toSeq)

  /** Streaming exact dedup, first-seen-wins — the continuously-ingesting
    * counterpart of the batch content dedup (q41/`Dedup.exactGroups`): a
    * document whose normalized-content fingerprint was already seen is
    * dropped at arrival time. Built on Spark's own
    * `dropDuplicatesWithinWatermark` state store (functions, not custom
    * state: the built-in evicts fingerprints once the watermark passes,
    * so state is bounded by the dedup horizon instead of growing with
    * the corpus). A duplicate arriving AFTER the horizon is admitted —
    * by design; the batch exact-dedup pass catches cross-horizon dups at
    * compaction time. The state key is the engine-portable rolling-hash
    * fingerprint the batch path uses ([[graft.functions.Hashing]], over
    * the lowercased text) COMBINED with an independent 64-bit xxhash —
    * the fingerprint alone lives mod 1e9+7 (~2^30), where the birthday
    * bound makes collisions among ~50k in-horizon documents likely, and
    * a collision silently discards a unique document (round-11 review);
    * the pair pushes the collision space past 2^90 while keeping state
    * at two longs per doc, never the text.
    *
    * CHECKPOINT COMPATIBILITY: adding `__fp2` (round 11) changed the
    * state-store key schema. A stream restarted from a pre-change
    * checkpoint fails at start (loudly, with Spark's state-schema
    * mismatch error) — discard the old checkpoint directory and let the
    * stream rebuild dedup state from its source; in-horizon duplicates
    * admitted during the rebuild are caught by the batch compaction
    * pass like any cross-horizon dup.
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 day"): DataFrame =
    docs
      .withColumn("__fp",
        graft.functions.Hashing.fingerprint(lower(col(textCol))))
      .withColumn("__fp2", xxhash64(lower(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp", "__fp2")
      .drop("__fp", "__fp2")

  final case class SessionEvent(key: Long, tsMicros: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class SessionOut(key: Long, startMicros: Long, endMicros: Long,
      n: Long, sum: Double)

  /** Gap-based sessionization via `flatMapGroupsWithState` — the custom
    * per-key state surface (§2.9/§2.10). Event-time gap logic is
    * explicit in the state function: an event more than `gapMicros`
    * after the key's last one closes the open session and starts a new
    * one. Sessions therefore close when a LATER EVENT for the key
    * arrives — without `idleTimeoutMs`, a key that stops sending never
    * emits its final session and its state lives forever (callers can
    * flush with a sentinel event per key, like the differential spec
    * does).
    *
    * `idleTimeoutMs = Some(ms)` adds a PROCESSING-time idle timeout: a
    * key silent for `ms` of wall-clock time has its open session closed,
    * emitted, and its state evicted at the next micro-batch — the
    * unbounded-state fix for production keys that go away. Left off by
    * default because wall-clock timing is nondeterministic, which would
    * break the stream≡batch differential contract the default mode is
    * pinned by (StreamsSpec).
    *
    * Late-event policy (events arriving in a LATER micro-batch than
    * in-order peers; within-batch disorder is sorted away): an event
    * within one gap of the open session's tail folds into it (batch
    * order agrees it belongs there), extending `start` backwards if
    * needed; older stragglers emit immediately as singleton sessions
    * rather than re-ordering already-processed history. `last` never
    * moves backwards, so `end >= start` always holds.
    */
  def sessionize(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMicros: Long,
      idleTimeoutMs: Option[Long] = None): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeoutConf = idleTimeoutMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None => GroupStateTimeout.NoTimeout
    }
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (key: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle key: close and emit the open session, evict the state
            val out = state.getOption
              .map(st => SessionOut(key, st.start, st.last, st.n, st.sum))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(_.tsMicros)
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            // stragglers older than the CURRENT foldable window are
            // DEFERRED, not emitted immediately (round-15 review): a
            // later foldable event in the same batch can lower `start`
            // and re-admit them — emitting eagerly produced a spurious
            // singleton the batch path chains into one session
            var deferred = List.empty[SessionEvent]
            // retry deferred stragglers DESCENDING against a session's
            // FINAL window (folding only lowers `start`, so admission is
            // monotone and one descending pass reaches the fixpoint — if
            // the largest is out of window, every smaller one is too);
            // whatever stays outside emits as its own singleton late
            // session (stragglers are not retro-merged with each other;
            // the accepted streaming-lateness trade). Runs at session
            // close AND at batch end — round-16 advice: the close path
            // used to emit deferred as singletons unconditionally, but a
            // same-batch fold can have LOWERED the closing session's
            // start enough to re-admit them (gap=5, state [100,110],
            // batch 92,96,200: 96 lowers start to 96, so 92 ≥ 96−5
            // chains under batch order), reproducing the exact spurious
            // overlapping-singleton class the deferral exists to fix.
            def resolveDeferred(st0: SessionState): SessionState = {
              var st = st0
              deferred.sortBy(-_.tsMicros).foreach { e =>
                if (e.tsMicros >= st.start - gapMicros)
                  st = st.copy(start = math.min(st.start, e.tsMicros),
                    n = st.n + 1, sum = st.sum + e.value)
                else
                  out += SessionOut(key, e.tsMicros, e.tsMicros, 1L, e.value)
              }
              deferred = Nil
              st
            }
            sorted.foreach { e =>
              cur match {
                // late event from an EARLIER micro-batch (in-batch order
                // is handled by the sort): `last` must never move
                // backwards — the old unguarded merge rewound it, so a
                // following event could merge against re-ordered history
                // and a session could emit end < start (round-11
                // review). FOLDABLE RANGE (round-12 review): any late
                // event at ts >= start − gap provably chains into the
                // OPEN session under batch order — inside [start, last]
                // it lands between two already-chained events ≤ gap
                // apart, and within one gap of either endpoint it chains
                // via that endpoint (the round-11 guard only accepted
                // the tail side, so an in-span event of a longer-than-
                // one-gap session emitted a spurious overlapping
                // singleton). Older than start − gap, batch order MAY
                // have placed it in an earlier emitted session — defer
                // it and retry once the batch's folds have settled;
                // whatever stays outside the final window emits as its
                // own singleton late session (stragglers are not
                // retro-merged with each other; the accepted
                // streaming-lateness trade).
                case Some(st) if e.tsMicros < st.last =>
                  if (e.tsMicros >= st.start - gapMicros)
                    cur = Some(st.copy(start = math.min(st.start, e.tsMicros),
                      n = st.n + 1, sum = st.sum + e.value))
                  else
                    deferred ::= e
                case Some(st) if e.tsMicros - st.last <= gapMicros =>
                  cur = Some(st.copy(last = e.tsMicros, n = st.n + 1, sum = st.sum + e.value))
                case Some(st) =>
                  // the closing session's window is final HERE: deferred
                  // stragglers retry against it (they can never reach
                  // the NEW session — its start exceeds last + gap while
                  // every deferred ts is below last), then the session
                  // emits with whatever they folded in
                  val fin = resolveDeferred(st)
                  out += SessionOut(key, fin.start, fin.last, fin.n, fin.sum)
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1L, e.value))
                case None =>
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1L, e.value))
              }
            }
            // batch end: resolve what's still deferred against the open
            // session (a deferral implies an open session existed, and
            // nothing below ever sets cur back to None, so deferred
            // nonempty ⇒ cur is Some)
            cur = cur.map(resolveDeferred)
            cur.foreach { st =>
              state.update(st)
              // a set timeout clears whenever the function runs for the
              // key, so it must be re-armed after every update
              idleTimeoutMs.foreach(state.setTimeoutDuration)
            }
            out.result().iterator
          }
      }
  }
}
