package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place that knows how graft caches, pins and releases frames.
  *
  *  - [[scoped]] / [[Scope.cache]]: a frame read by more than one plan
  *    branch or action, cached for the life of one block.
  *  - [[Scope.keep]]: a frame cached inside a block and handed out on
  *    success; its owner's `release()` frees it, and a failed block
  *    frees it like any other scoped frame.
  *  - [[cache]]: a frame owned from the start (a loaded codebook level).
  *  - [[pin]]: an eager `localCheckpoint` — lineage is truncated, so
  *    downstream actions never re-run the work, and the ContextCleaner
  *    reclaims the blocks once the frame is garbage-collected.
  *  - [[sweep]]: drops every cached frame and pinned block between
  *    measured or verified queries.
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
      held.reverseIterator.collect { case (df, out) if failed || !out => df }
        .foreach(_.unpersist())
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

  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Clears the SQL cache, then unpersists the persistent RDDs, which
    * hold the [[pin]] blocks `clearCache` does not reach.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
