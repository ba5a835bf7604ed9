package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** What one op reports: items it completed, whether its output matched
  * the planted ground truth, and why not when it did not.
  */
final case class Outcome(items: Long, ok: Boolean, why: String = "")

/** Everything a workload gets from the harness. */
final case class Ctx(
    spark: SparkSession,
    trace: Trace,
    seed: Long,
    tiny: Boolean,
    cores: Int,
    work: Path,
    data: Path,
    perturb: Boolean)

/** One closed-loop workload: a single client issuing ops back to back. */
trait Workload {
  /** Inputs from the seed, plus any untimed backfill; counted in setup_s. */
  def setup(): Unit
  /** Ops run before the timed phase, counted in setup_s. */
  def warmupOps: Int
  /** Op `i` of the seed-fixed sequence, checked against ground truth. */
  def op(i: Int): Outcome
  /** True when op `i` can be issued again with the same cost, so a
    * traced phase can replay the untraced phase's ops.
    */
  def replayable: Boolean
  /** Checks that need the whole run (state that accumulates over ops):
    * the ops found wrong, with why.
    */
  def finalCheck(): Seq[(Int, String)] = Nil
  /** The timed phase ends on a multiple of this many ops, so that every
    * run covers whole cycles of the op sequence.
    */
  def round: Int = 1
  /** What op `i` runs, for the long-session curve. */
  def label(i: Int): String = s"op$i"
  /** Per-layer metrics from the traced phase's op spans. */
  def layerMetrics(ops: Seq[Trace.Span]): Map[String, Double] = Map.empty
}

/** Entry point of one benchmark run (see perfbench/NOTES.md).
  *
  * Phases: session and sentinels, workload setup, a fixed warm-up, the
  * timed closed loop, the end-of-run checks, then one JSON line: the
  * end-to-end metrics, or with `--trace 1` the per-layer metrics.
  */
object Main {
  /** Fewest timed ops a run makes even when `--seconds` has passed: the
    * tail metric needs at least ten ops beyond a percentile above p50.
    * A traced run splits them between untraced and traced ops, and
    * prints no tail; at the tiny size (the smoke test) it makes four.
    */
  def minOps(tiny: Boolean, traced: Boolean): Int = if (tiny && traced) 4 else 22

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val tiny = a.getOrElse("size", "full") == "tiny"
    val curveOps = a.get("curve").map(_.toInt)
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val t0Ms = a.get("t0-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    Files.createDirectories(work)

    val spark = GraftSession.builder(
        master = s"local[$cores]", shufflePartitions = cores,
        appName = s"perfbench-$workloadName")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.scratch.dir", work.resolve("graft-scratch").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val calibBefore = Sentinels.calibMs()
    val calibParBefore = Sentinels.calibParMs()

    val trace = new Trace(spark)
    val ctx = Ctx(spark, trace, seed, tiny, cores, work,
      Paths.get(a.getOrElse("data", ".")).toAbsolutePath, a.getOrElse("perturb", "0") == "1")
    val wl: Workload = workloadName match {
      case "ifcb_feed" => new IfcbFeed(ctx)
      case "query_mix" => new QueryMix(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val failures = mutable.LinkedHashMap.empty[Int, String]
    def runOp(i: Int): (Outcome, Double) = {
      val t = System.nanoTime()
      val o =
        try wl.op(i)
        catch { case scala.util.control.NonFatal(e) =>
          Outcome(0, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val s = (System.nanoTime() - t) / 1e9
      if (!o.ok) failures.getOrElseUpdate(i, o.why)
      System.err.println(f"[perfbench] op $i%d ${wl.label(i)}%s $s%.3f s ok=${o.ok}%s")
      (o, s)
    }

    wl.setup()
    System.err.println(f"[perfbench] setup done at ${(System.currentTimeMillis() - t0Ms) / 1000}%.1f s")
    (wl, a.get("record")) match {
      case (q: QueryMix, Some("1")) =>
        println(Json.render(scala.collection.immutable.TreeMap(
          q.record().toSeq: _*)))
        spark.stop()
        return
      case _ =>
    }
    curveOps match {
      case Some(n) =>
        // long-session curve: no warm-up, every op timed and printed
        val lat = (0 until n).map(i => runOp(i)._2)
        println(Json.render(mutable.LinkedHashMap[String, Any](
          "workload" -> workloadName, "seed" -> seed, "curve_s" -> lat, "labels" -> (0 until n).map(wl.label),
          "failed" -> failures.size)))
        spark.stop()
        return
      case None =>
    }
    val warm = wl.warmupOps
    (0 until warm).foreach(runOp)
    // end the warm-up with a full collection, so that every timed phase
    // starts from the same heap: otherwise the collection that clears the
    // warm-up's garbage lands at a different op in each run, and the ops
    // after it run measurably faster
    System.gc()

    val tFirstMs = System.currentTimeMillis().toDouble
    val setupS = (tFirstMs - t0Ms) / 1000.0
    val ticksBefore = Sentinels.cpuTicks()

    /* The timed closed loop, from op `warm`: until `seconds` passed, at
     * least `minOps` ran and the ops end on a whole round. A traced run
     * issues each op twice in a row, untraced and traced, in alternating
     * order (a stateful workload issues its next op instead), so both
     * halves see the same stage of warm-up and the same caches, and the
     * trace overhead compares like with like.
     */
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    val need = minOps(tiny, traced) / (if (traced) 2 else 1)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = warm
    def plain(k: Int): Unit = {
      val (o, s) = runOp(k)
      lat += s
      items += o.items
    }
    def recorded(k: Int): Unit = {
      trace.start()
      tracedLat += trace.span(s"op#$k")(runOp(k))._2
      trace.pause()
    }
    while ((elapsed < seconds || lat.size < need || lat.size % wl.round != 0) &&
        elapsed < math.max(6 * seconds, 300)) {
      if (!traced) plain(i)
      else if (!wl.replayable) { plain(i); i += 1; recorded(i) }
      else if (lat.size % 2 == 0) { plain(i); recorded(i) }
      else { recorded(i); plain(i) }
      i += 1
    }
    val wall = elapsed
    val ticksAfter = Sentinels.cpuTicks()
    val calibAfter = Sentinels.calibMs()
    val calibParAfter = Sentinels.calibParMs()

    val attempted = lat.size + tracedLat.size
    wl.finalCheck().foreach { case (i, why) => failures.getOrElseUpdate(i, why) }
    val timedFailed = failures.keys.count(i => i >= warm)
    val warmFailed = failures.keys.count(_ < warm)
    val correct = failures.isEmpty

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val diag = mutable.LinkedHashMap.empty[String, Any]
    val sorted = lat.toSeq.sorted
    def q(p: Double): Double = Stats.quantile(sorted, p)
    if (!traced) {
      metrics("items_per_s") = (items / wall, "1/s")
      metrics("op_p50_s") = (q(0.5), "s")
      Stats.tailPercentile(sorted.size).foreach { p =>
        metrics("op_tail_s") = (q(p / 100.0), "s")
        diag("op_tail_percentile") = p
      }
      metrics("setup_s") = (setupS, "s")
      metrics("peak_rss_mb") = (Sentinels.peakRssMb(), "MB")
      diag("op_fail_frac") = timedFailed.toDouble / math.max(1, attempted)
    } else {
      val opSpans = trace.spans.filter(_.name.startsWith("op#")).toSeq
      // the op's own call: its "run" span when layer probes ran beside it
      val calls = opSpans.map(s => trace.children(s).find(_.name == "run").getOrElse(s))
      val tracedOp = calls.map(_.durMs / 1000.0)
      val layer = mutable.LinkedHashMap.empty[String, Double]
      layer ++= trace.sparkMetrics(calls, cores)
      layer ++= wl.layerMetrics(opSpans)
      layer("bench.trace_overhead_frac") = Stats.median(tracedOp) / q(0.5) - 1.0
      LayerNames.of(workloadName).foreach(n => metrics(n) = (layer.getOrElse(n, 0.0), LayerNames.unit(n)))
      val tracePath = work.getParent.resolve("traces").resolve(s"$workloadName-seed$seed.json")
      trace.write(tracePath, Map("workload" -> workloadName, "seed" -> seed))
      diag("trace_file") = tracePath.toString
      diag("task_share_by_layer") = trace.taskShareByLayer(calls)
      diag("traced_ops") = tracedLat.size
    }
    diag("workload") = workloadName
    diag("seed") = seed
    diag("ops") = lat.size
    diag("warmup_ops") = warm
    diag("items") = items
    diag("timed_wall_s") = wall
    diag("calib_before_ms") = calibBefore
    diag("calib_after_ms") = calibAfter
    diag("calib_par_before_ms") = calibParBefore
    diag("calib_par_after_ms") = calibParAfter
    diag("steal_pct") = Sentinels.stealPct(ticksBefore, ticksAfter)
    diag("settings") = Settings.describe(spark)
    if (failures.nonEmpty)
      diag("failures") = failures.take(10).map { case (i, w) => s"op $i: $w" }.toSeq
    diag("warmup_failed") = warmFailed

    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> math.min(attempted, timedFailed + warmFailed),
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) },
      "diagnostics" -> diag)
    spark.stop()
    println(Json.render(out))
  }
}

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = p * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** The highest whole percentile with at least ten ops above it, if
    * that is above p50: never the maximum of a handful of ops.
    */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (n > 20 && p > 50) Some(math.min(p, 99)) else None
  }
}
