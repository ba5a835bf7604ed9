package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One named, oracle-checked query: the unit of the driver's correctness
  * gate (see SURVEY.md §5). `build` is the Spark plan; `oracle` is the
  * equivalent ANSI SQL DuckDB runs over the same parquet tables. Queries
  * without a SQL-expressible oracle (sketch-based dedup, ANN, streaming)
  * leave `oracle` empty and are covered by ScalaTest golden tests instead.
  */
final case class GraftQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** Data-dependent oracle: rendered by Verify with (session, sfDir)
      * when the SQL embeds literals trained from the data itself (e.g.
      * IVF centroids). The renderer must be deterministic in the data so
      * the literals match what `build` computes on the same directory.
      */
    oracleDyn: Option[(SparkSession, String) => String] = None)

object GraftQuery {
  /** Float-parity helpers.
    *
    * Double addition is not associative, so a plain `sum(double)` differs
    * between Spark (32-way partial aggregation) and DuckDB in the last
    * bits — enough to break a hash compare. Per-row IEEE-754 arithmetic
    * (+,-,*,/) IS bit-deterministic across both engines, so the rule is:
    * compute per-row values in double, cast to decimal immediately before
    * the sum (decimal addition is exact and order-independent), and cast
    * the exact result back to double. At 100 TB the same property makes
    * results reproducible across retries/partitioning changes.
    */
  val D2: DecimalType = DecimalType(18, 2)
  val D4: DecimalType = DecimalType(18, 4)
  val D6: DecimalType = DecimalType(18, 6)
  val D12: DecimalType = DecimalType(28, 12)

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column, dt: DecimalType = D2): Column = sum(c.cast(dt)).cast("double")

  /** SQL mirror of [[dsum]] for the DuckDB oracle. Takes the SAME
    * DecimalType constant as [[dsum]] (round-12 review): the old
    * scale-only signature hardcoded precision 18, so pairing
    * dsum(c, D12) with dsumSql(e, 12) silently rendered DECIMAL(18,12)
    * — 6 integer digits, overflowing the oracle side on any per-group
    * sum ≥ 10^6 while Spark computed fine at (28,12). One constant now
    * drives both engines' precision AND scale.
    */
  def dsumSql(expr: String, dt: DecimalType = D2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(${dt.precision},${dt.scale}))) AS DOUBLE)"

  /** Size-1 (session, dir)-keyed memo for deterministic data-derived
    * training artifacts (k-means centroids, BPE merges, IVF codebooks)
    * shared between a query's plan lambda and its oracle renderer — and
    * across queries. Training is deterministic in the data, so
    * memoization is observationally pure; a single last-result slot
    * (not a map) so a stopped session's object graph isn't pinned for
    * the JVM's life in a bench/test loop.
    *
    * `close` runs on the value a (session, dir) switch REPLACES. A memo
    * whose values own cached frames or scratch dirs (an
    * [[graft.operators.Ivf.Codebook]]) passes `close = _.release()`, or
    * every SF/dir switch within a JVM leaks them. The last value is
    * never closed: its frames go with the session, its scratch dirs
    * with the JVM ([[graft.Frames.scratchDir]]).
    * Values for plain driver-side artifacts need no close — the GC
    * owns them — so it defaults to a no-op. Single-threaded use is the
    * contract (Verify/Bench run queries sequentially): under a
    * same-key race the loser's duplicate value is conservatively
    * LEAKED, never closed, because the winner may already have handed
    * the other out.
    */
  final class SessionMemo[T](
      train: (SparkSession, String) => T,
      close: T => Unit = (_: T) => ()) {
    private val slot = new java.util.concurrent.atomic.AtomicReference[
      ((SparkSession, String), T)]()
    def apply(s: SparkSession, d: String): T = {
      val key = (s, d)
      val cur = slot.get()
      if (cur != null && cur._1 == key) cur._2
      else {
        val v = train(s, d)
        val prev = slot.getAndSet((key, v))
        if (prev != null && prev._1 != key) close(prev._2)
        v
      }
    }
  }
}
