package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place that knows how graft caches, pins and releases frames,
  * and the scratch dirs behind them.
  *
  *  - [[scoped]] / [[Scope.cache]]: a frame read by more than one plan
  *    branch or action, cached for the life of one block.
  *  - [[Scope.keep]]: a frame cached inside a block and handed out on
  *    success; its owner's `release()` frees it, and a failed block
  *    frees it like any other scoped frame.
  *  - [[cache]]: a frame owned from the start (a loaded codebook level).
  *  - [[release]]: an owner's `release()` frees the frames it holds.
  *  - [[pin]]: an eager `localCheckpoint` — lineage is truncated, so
  *    downstream actions never re-run the work, and the ContextCleaner
  *    reclaims the blocks once the frame is garbage-collected.
  *  - [[sweep]]: drops every cached frame and pinned block between
  *    measured or verified queries.
  *  - [[scratchDir]] / [[dropScratch]]: a fresh dir for state a session
  *    writes and reads back (a codebook snapshot); the owner drops it,
  *    and whatever is still live at JVM exit goes with Hadoop's
  *    `FileSystem` delete-on-exit list. [[settling]] wraps the write, so
  *    a failed one is dropped only after its tasks have ended.
  *
  * Every cached frame uses MEMORY_AND_DISK: a block that does not fit
  * in memory goes to disk instead of being recomputed.
  */
object Frames {

  /** The frames one [[scoped]] block cached. */
  final class Scope private[Frames] {
    // (frame, handed out)
    private val held = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, Boolean)]

    /** Caches `df` until the block exits. */
    def cache(df: DataFrame): DataFrame = { held += ((Frames.cache(df), false)); df }

    /** Caches `df` and hands it out: it outlives a block that returns
      * normally, and its owner releases it.
      */
    def keep(df: DataFrame): DataFrame = { held += ((Frames.cache(df), true)); df }

    private[Frames] def release(failed: Boolean): Unit =
      Frames.release(
        held.reverseIterator.collect { case (df, out) if failed || !out => df }.toSeq: _*)
  }

  /** Runs `body` and unpersists what it cached through its scope when it
    * exits; on an exception its kept frames go too.
    */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    var failed = true
    try {
      val a = body(s)
      failed = false
      a
    } finally s.release(failed)
  }

  def cache(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  def release(dfs: DataFrame*): Unit = dfs.foreach(_.unpersist())

  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Clears the SQL cache, then unpersists the persistent RDDs, which
    * hold the [[pin]] blocks `clearCache` does not reach.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A fresh, empty dir under `spark.graft.scratch.dir` — any
    * Hadoop-visible URI; Spark writes from executor tasks, so outside
    * local mode point it at storage the driver and executors share. It
    * defaults to the JVM temp dir, which is right in local mode, where
    * driver and executors are one process. The dir is on its
    * filesystem's delete-on-exit list until [[dropScratch]].
    */
  def scratchDir(spark: SparkSession, prefix: String): String = {
    val base = spark.conf.get("spark.graft.scratch.dir", System.getProperty("java.io.tmpdir"))
    val dir = new Path(base, s"$prefix-${java.util.UUID.randomUUID}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.deleteOnExit(dir)
    dir.toString
  }

  /** Deletes a [[scratchDir]]; only a delete that left nothing behind
    * takes it off the delete-on-exit list.
    */
  def dropScratch(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    if (!fs.exists(p)) fs.cancelDeleteOnExit(p)
    ()
  }

  /** Runs `body`, a write into a [[scratchDir]]. When it throws, waits
    * first, at most 10 s, until every task of the Spark jobs it started
    * has ended: a failed job returns to its caller while killed tasks of
    * its stages can still run and write into the dir, so the owner must
    * not drop the dir before they are gone.
    */
  def settling[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val watch = new TaskWatch(java.util.UUID.randomUUID.toString)
    val prev = sc.getLocalProperty(SettleKey)
    sc.addSparkListener(watch)
    sc.setLocalProperty(SettleKey, watch.tag)
    try body
    catch {
      case scala.util.control.NonFatal(e) if !sc.isStopped =>
        // a marker job's start reaches the listener after every event
        // posted before it, the failed job's task starts included
        sc.setLocalProperty(SettleKey, watch.flush)
        scala.util.Try(sc.parallelize(Seq(1), 1).count())
        watch.awaitIdle(System.nanoTime + 10L * 1000 * 1000 * 1000)
        throw e
    } finally {
      sc.setLocalProperty(SettleKey, prev)
      sc.removeSparkListener(watch)
    }
  }

  private val SettleKey = "graft.frames.settle"

  /** Counts the running tasks of the jobs started under `tag`. */
  private final class TaskWatch(val tag: String)
      extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val flush = tag + ":flush"
    private val stages = scala.collection.mutable.Set.empty[Int]
    private var running = 0
    private var flushed = false

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).map(_.getProperty(SettleKey)) match {
        case Some(`tag`) => stages ++= j.stageIds
        case Some(`flush`) => flushed = true; notifyAll()
        case _ =>
      }
    }
    override def onTaskStart(t: SparkListenerTaskStart): Unit = synchronized {
      if (stages(t.stageId)) running += 1
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (stages(t.stageId)) { running -= 1; notifyAll() }
    }

    /** Waits until the flush marker has arrived and no task runs. */
    def awaitIdle(deadlineNs: Long): Unit = synchronized {
      var left = deadlineNs - System.nanoTime
      while ((!flushed || running > 0) && left > 0) {
        wait(math.max(1L, left / 1000000L))
        left = deadlineNs - System.nanoTime
      }
    }
  }
}
