package graft

import java.lang.management.ManagementFactory
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Method notes:
  *  - results go to the `noop` sink so the full result set is computed
  *    (a bare `count()` lets Catalyst prune the very columns a query
  *    exists to produce);
  *  - one un-timed warmup query first: the first job in a fresh JVM pays
  *    10-20 s of classloading/JIT that has nothing to do with any query;
  *  - the session is [[GraftSession.builder]]'s, as in perfbench:
  *    shuffle partitions = cores, AQE coalesces further;
  *  - hygiene between timed regions: a suite of queries in one JVM
  *    accumulates state that ContextCleaner reclaims only after the
  *    owning references are garbage-collected (broadcast blocks in the
  *    memory store, shuffle files). With an 8 GiB heap the old
  *    generation may never be collected, and late queries then run
  *    10-30x slow (q55 measured 67.2 s in the suite, 2.16 s standalone).
  *    So between queries graft's frames are swept and a full GC lets the
  *    cleaner drain; that cost is never timed. Generated classes stay
  *    cached: the codegen cache holds the whole suite, so a second pass
  *    compiles about nothing (the `codegen` line counts each pass).
  *
  * Knobs (env vars, the driver sets none):
  *  - SPARK_GRAFT_BENCH_ONLY=q55,q76_...     run a subset (full names or
  *    bare qNN prefixes)
  *  - SPARK_GRAFT_BENCH_PASSES=N             passes per query (default 3)
  *  - SPARK_GRAFT_BENCH_BASELINE=<path|off>  frozen per-query baseline
  *    to diff against (default BASELINE.md's `bench-baseline` table);
  *    when the file parses AND its sf marker matches the run, an extra
  *    `vs_baseline_sec` line carries measured−baseline per query
  *
  * Host-contention sentinels, all inside the final contract line:
  *  - `calib_before_ms`/`calib_after_ms`: a fixed single-threaded CPU
  *    loop timed before and after the suite (~220 ms exclusive, see
  *    BASELINE.md). Uniform slowdown across unrelated, unchanged plans
  *    is the contention signature no per-query number can show.
  *  - `calib_par_*_ms`: the same loop on every hardware thread with
  *    strided stores, wall-clocked to the slowest worker. One free core
  *    keeps the single-threaded loop fast while load steals the rest
  *    (q76 once read 6.58 s against a 1.82 s exclusive re-run with clean
  *    single-thread readings), so this one sees multi-core and
  *    memory-bandwidth contention.
  *  - `steal_pct`: hypervisor CPU steal from /proc/stat over the whole
  *    suite window, the one signal that integrates over the run instead
  *    of sampling its endpoints.
  *
  * Self-adjudication (BASELINE.md's 2x rule): after the suite, and after
  * its sentinels are sampled, every query whose suite minimum exceeds 2x
  * its frozen baseline is re-timed 3 more times with an all-cores probe
  * before it, and the evidence rides in the contract line as a
  * `readjudicated` map of [re-run min sec, probe ms]. Bursty steal is
  * usually gone by the re-run; a query whose re-run minimum also exceeds
  * 2x with a clean probe is a genuine regression. Capped at the 10 worst
  * ratios so a uniformly contended run cannot triple its own wall clock.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // JSON must be locale-independent: the f-interpolator formats with
    // the JVM default locale (comma decimals under de_DE et al.), which
    // the driver's strict json.loads rejects.
    def fmt(v: Double) = String.format(Locale.ROOT, "%.3f", v: java.lang.Double)

    /** The class doc's hygiene: [[Frames.sweep]], a full GC, and a
      * short pause for the cleaner thread to drain its reference queue.
      */
    def hygiene(): Unit = {
      Frames.sweep(spark)
      System.gc()
      Thread.sleep(150)
    }

    /** Fixed single-threaded xorshift loop, timed — a pure-CPU sentinel
      * whose wall time depends only on host contention/frequency, never
      * on Spark or the queries. Run twice, keep the second (first pays
      * JIT). See the class doc's sentinels.
      */
    def calibMs(): Double = {
      def once(): Double = {
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        val t0 = System.nanoTime()
        while (i < 100000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        val t = (System.nanoTime() - t0) / 1e6
        if (x == 0) print("") // keep the loop live
        t
      }
      once(); once()
    }

    /** All-cores contention sentinel: one xorshift worker per hardware
      * thread, each also issuing strided stores into a private 8 MiB
      * buffer (larger than L2, so the stores reach L3/DRAM and the
      * reading co-varies with bandwidth pressure), timed by the wall
      * clock until every worker finishes. Exclusive: wall ≈ the
      * single-thread time. Contended: descheduled workers and bandwidth
      * competition inflate it roughly in proportion to the stolen
      * capacity. Run twice, keep the second (first pays JIT + page
      * faults).
      */
    val calibParCpus = math.max(2, Runtime.getRuntime.availableProcessors())
    val calibParMask = (1 << 20) - 1 // Array[Long](1<<20) = 8 MiB per worker
    // worker buffers are allocated once, before any timed region:
    // allocated inside the sentinel, the post-suite reading pays an
    // old-gen GC for the fresh buffers on a garbage-heavy heap and reads
    // as host contention (par_after 383 ms vs par_before 231 ms, idle host)
    val calibParBufs: Array[Array[Long]] =
      Array.fill(calibParCpus)(new Array[Long](calibParMask + 1))

    /** (steal_ticks, total_ticks) from the aggregate cpu line of
      * /proc/stat, for the class doc's steal_pct. None on non-Linux /
      * unreadable proc.
      */
    def cpuTicks(): Option[(Long, Long)] =
      try {
        val line = {
          val src = scala.io.Source.fromFile("/proc/stat")
          try src.getLines().next() finally src.close()
        }
        // cpu user nice system idle iowait irq softirq steal guest gnice
        // — total sums the first 8 fields only (through steal): the
        // kernel already folds guest/gnice into user/nice, so summing
        // them again double-counts guest time and understates steal_pct
        // on a host running VMs
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.lift(7).getOrElse(0L), f.take(8).sum))
      } catch { case _: Throwable => None }

    def calibParMs(): Double = {
      def once(): Double = {
        val sink = new java.util.concurrent.atomic.AtomicLong()
        val t0 = System.nanoTime()
        val threads = (0 until calibParCpus).map { tid =>
          val t = new Thread(() => {
            val buf = calibParBufs(tid)
            var x = 0x9E3779B97F4A7C15L + tid
            var i = 0
            while (i < 100000000) {
              x ^= x << 13; x ^= x >>> 7; x ^= x << 17
              // one strided store per 16 xorshifts: ~6.25M stores x 8 B
              // per worker — enough DRAM traffic to see bandwidth theft
              // without turning the sentinel itself bandwidth-bound
              if ((i & 15) == 0) buf((x >>> 8).toInt & calibParMask) = x
              i += 1
            }
            sink.addAndGet(x + buf((x >>> 8).toInt & calibParMask)) // keep live
          })
          t.setDaemon(true); t.start(); t
        }
        threads.foreach(_.join())
        val t = (System.nanoTime() - t0) / 1e6
        if (sink.get == 0) print("")
        t
      }
      once(); once()
    }

    // accepts full names or bare qNN prefixes ("q55,q76" ==
    // "q55_feature_extract,q76_skew_join_salted")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(o => n == o || n.startsWith(o + "_"))))
    require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY matched no queries")
    val calibBefore = calibMs()
    val calibParBefore = calibParMs()
    val ticksBefore = cpuTicks()
    // warmup, untimed, tolerated on failure like timed(): a throw here
    // would abort the bench with no contract line. NonFatal only: after
    // an OOM/LinkageError the timed numbers would be plausible fiction.
    try run(names.head) catch { case scala.util.control.NonFatal(_) => () }
    hygiene()

    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try { run(name); true }
      catch { case scala.util.control.NonFatal(_) => false }
      val t = (System.nanoTime() - t0) / 1e9
      hygiene()
      if (ok) t else -1.0
    }
    // N full passes: the per-query minimum measures the query, not the
    // host's roaming stalls or residual JIT; raw per-pass times and the
    // max-min spread go on earlier lines. A bad value fails with the
    // variable's name before the bench window is spent.
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .map { v =>
        scala.util.Try(v.trim.toInt).getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_BENCH_PASSES must be an integer, got '$v'"))
      }.getOrElse(3)
    require(nPasses >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1: $nPasses")
    // Janino compiles and their ns: a thrashing codegen cache compiles
    // in every pass, not only the first
    def compiles() = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val (passes, passCompiles) = Seq.fill(nPasses) {
      val (n0, ns0) = compiles()
      val times = names.map(n => timed(n))
      val (n1, ns1) = compiles()
      (times, (n1 - n0, (ns1 - ns0) / 1e6))
    }.unzip
    val metaspaceMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").fold(-1.0)(_.getUsage.getUsed / 1048576.0)
    val results = names.zipWithIndex.map { case (n, i) =>
      val ts = passes.map(_(i)).filter(_ >= 0)
      if (ts.isEmpty) (n, -1.0, -1.0) else (n, ts.min, ts.max - ts.min)
    }
    // post-suite sentinels before the re-adjudication window: the
    // contract's calib_after/steal_pct must describe the suite — sampled
    // after the re-runs they would dilute the steal integral exactly
    // when queries were flagged. The re-runs carry their own probes.
    val calibAfter = calibMs()
    val calibParAfter = calibParMs()
    // hypervisor steal over the suite window (−1 = unreadable): the
    // integral the endpoint calib probes can only sample
    val stealPct = (for {
      (s0, t0v) <- ticksBefore
      (s1, t1v) <- cpuTicks()
      if t1v > t0v
    } yield 100.0 * (s1 - s0) / (t1v - t0v)).getOrElse(-1.0)
    // frozen per-query baseline: only the rows under the
    // `bench-baseline:<sf>:cores<N>` marker, and only when its sf matches
    // the run; the marker also names the table's core count
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BASELINE.md")
    val (baseline, baseCores): (Map[String, Double], Option[Int]) =
      if (basePath == "off" || basePath == "0") (Map.empty, None)
      else try {
        // explicit UTF-8 via bytes: the forked JVM's default decoder
        // throws on the doc's non-ASCII characters
        val lines = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(basePath)),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector
        val markerIdx = lines.indexWhere(
          _.trim.startsWith("<!-- bench-baseline:"))
        if (markerIdx < 0) (Map.empty, None)
        else {
          val tags = lines(markerIdx).split("bench-baseline:")(1)
            .takeWhile(c => c.isLetterOrDigit || c == '.' || c == ':').split(':')
          val cores = tags.collectFirst {
            case t if t.startsWith("cores") => t.stripPrefix("cores").toInt
          }
          if (tags(0) != new java.io.File(sfDir).getName) (Map.empty, None)
          else (lines.drop(markerIdx + 1)
            .takeWhile(_.trim.startsWith("|"))
            .flatMap { line =>
              val cells = line.split("\\|").map(_.trim)
              if (cells.length >= 3 && cells(1).startsWith("q"))
                scala.util.Try(cells(1) -> cells(2).toDouble).toOption
              else None
            }.toMap, cores)
        }
      } catch { case scala.util.control.NonFatal(_) => (Map.empty, None) }

    // self-adjudication (class doc)
    val flaggedAll = results.collect {
      case (k, v, _) if v >= 0 && baseline.get(k).exists(b => b > 0 && v > 2 * b) =>
        (k, v / baseline(k))
    }.sortBy(-_._2)
    val flagged = flaggedAll.take(10).map(_._1)
    // one all-cores probe per query: a burst must show next to the
    // query it hit, and a single-thread probe reads clean under it
    val readj: Seq[(String, Double, Double)] = flagged.map { n =>
      val probe = calibParMs()
      val ts = (1 to 3).map(_ => timed(n)).filter(_ >= 0)
      (n, if (ts.isEmpty) -1.0 else ts.min, probe)
    }
    // The driver keeps only the last ~2000 chars of output, so the
    // contract line is printed last, with centisecond values and the sf
    // basename; diagnostics go on earlier lines.
    def fmt2(v: Double) = String.format(Locale.ROOT, "%.2f", v: java.lang.Double)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt2(v) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, _, s) => "\"" + k + "\":" + fmt(s) }
      .mkString("{", ",", "}")
    val raw = names.zipWithIndex.map { case (n, i) =>
      "\"" + n + "\":[" + passes.map(p => fmt(p(i))).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sfName = new java.io.File(sfDir).getName
    // the sentinels and the re-adjudication evidence ride inside the
    // contract line (BASELINE.md: calib over ~1.5x the ~220 ms exclusive
    // reference means the run was contended); each `readjudicated` entry
    // is [re-run minimum sec, that query's probe ms].
    val readjStr =
      if (readj.isEmpty) ""
      else {
        val m = readj.map { case (k, v, p) =>
          "\"" + k + "\":[" + fmt2(v) + "," +
            String.format(Locale.ROOT, "%.0f", p: java.lang.Double) + "]"
        }.mkString("{", ",", "}")
        s""""readjudicated":$m,"""
      }
    // a table frozen at another core count is no yardstick for this run
    val baseCoresStr = baseCores.fold("") { c =>
      s""""baseline_cores":$c,""" +
        (if (c.toString != cpus) "\"baseline_comparable\":false," else "")
    }
    // the parsed table sum rides in the contract line, so a
    // total-vs-freeze ratio takes its denominator from the same parse
    // as the per-query diffs, not from prose
    val baseSumStr =
      if (baseline.isEmpty) ""
      else s""""baseline_table_sum":${fmt(baseline.values.sum)},""" + baseCoresStr
    def contract(q: String) =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""calib_before_ms":${fmt(calibBefore)},""" +
        s""""calib_after_ms":${fmt(calibAfter)},""" +
        s""""calib_par_before_ms":${fmt(calibParBefore)},""" +
        s""""calib_par_after_ms":${fmt(calibParAfter)},""" +
        s""""steal_pct":${fmt(stealPct)},""" +
        baseSumStr +
        readjStr +
        s""""queries":$q,"sf":"$sfName"}"""
    // if the full-name line ever outgrows the window, fall back to the
    // unique qNN prefixes (still cross-referencable) instead of letting
    // the driver's tail cut the front of the JSON off
    val line = {
      val full = contract(qs)
      // qNN prefixes must be unique or the fallback would emit duplicate
      // JSON keys that json.loads silently last-wins (the registry
      // dup-check covers full names only)
      val prefixes = results.map(_._1.takeWhile(_ != '_'))
      require(prefixes.distinct.size == prefixes.size,
        s"duplicate qNN prefixes: ${prefixes.diff(prefixes.distinct).distinct.mkString(",")}")
      if (full.length <= 1950) full
      else {
        val short = contract(results.map { case (k, v, _) =>
          "\"" + k.takeWhile(_ != '_') + "\":" + fmt2(v)
        }.mkString("{", ",", "}"))
        // the fallback is length-checked too (at 100+ queries it is the
        // path always taken, and readjudicated entries can push it past
        // the driver tail): drop the readjudicated detail, whose data
        // already rode the pass_times/spread lines
        if (short.length <= 1950) short
        else {
          val dropped = short.replaceFirst("\"readjudicated\":\\{[^}]*\\},",
            "\"readjudicated_dropped_for_length\":true,")
          // the regex can miss (nothing to drop, or an unexpected shape):
          // re-verify once and fall back to a minimal always-valid line
          // rather than let the driver tail truncate mid-JSON
          if (dropped.length <= 1950) dropped
          else s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
            s""""queries":{},"truncated":true,"sf":"$sfName"}"""
        }
      }
    }
    println(s"""{"metric":"pass_times","queries":$raw}""")
    println(s"""{"metric":"spread_max_minus_min","queries":$spreads}""")
    println(s"""{"metric":"codegen",""" +
      s""""compiles":${passCompiles.map(_._1).mkString("[", ",", "]")},""" +
      s""""compile_ms":${passCompiles.map(c => fmt(c._2)).mkString("[", ",", "]")},""" +
      s""""metaspace_mb":${fmt(metaspaceMb)}}""")
    // the same values also ride inside the final contract line
    println(s"""{"metric":"calib_ms","before":${fmt(calibBefore)},""" +
      s""""after":${fmt(calibAfter)},""" +
      s""""par_before":${fmt(calibParBefore)},""" +
      s""""par_after":${fmt(calibParAfter)}}""")
    // regression attribution: diff against the frozen per-query baseline,
    // only at the baseline's own SF (the parse returns empty on a scale
    // mismatch)
    if (baseline.nonEmpty) {
      val deltas = results.collect {
        case (k, v, _) if v >= 0 && baseline.contains(k) =>
          "\"" + k + "\":" + fmt(v - baseline(k))
      }
      val newcomers = results.collect {
        case (k, v, _) if v >= 0 && !baseline.contains(k) => k
      }
      println(s"""{"metric":"vs_baseline_sec","baseline":"$basePath",""" + baseCoresStr +
        s""""unbaselined":${newcomers.size},""" +
        s""""queries":${deltas.mkString("{", ",", "}")}}""")
    }
    spark.stop()
    println(line)
  }
}
