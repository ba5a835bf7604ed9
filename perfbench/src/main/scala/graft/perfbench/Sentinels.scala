package graft.perfbench

/** Host sentinels, computed the way `graft.Bench` computes them: a
  * single-thread xorshift loop (`calib_ms`), the same loop on every core
  * at once with an 8 MiB scatter buffer per thread (`calib_par_ms`), and
  * hypervisor CPU steal from `/proc/stat` across the timed window
  * (`steal_pct`). Each calib is the second of two timings. They describe
  * the host, not graft, so they are printed beside the metrics only.
  */
object Sentinels {
  private val Iters = 100000000

  def calibMs(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < Iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      val t = (System.nanoTime() - t0) / 1e6
      if (x == 0) print("")
      t
    }
    once(); once()
  }

  private val parCpus = math.max(2, Runtime.getRuntime.availableProcessors())
  private val parMask = (1 << 20) - 1
  private lazy val parBufs: Array[Array[Long]] =
    Array.fill(parCpus)(new Array[Long](parMask + 1))

  def calibParMs(): Double = {
    def once(): Double = {
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val threads = (0 until parCpus).map { tid =>
        val t = new Thread(() => {
          val buf = parBufs(tid)
          var x = 0x9E3779B97F4A7C15L + tid
          var i = 0
          while (i < Iters) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            if ((i & 15) == 0) buf((x >>> 8).toInt & parMask) = x
            i += 1
          }
          sink.addAndGet(x + buf((x >>> 8).toInt & parMask))
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

  /** (steal ticks, total ticks) of the aggregate cpu line; total sums
    * user..steal only, as Bench does (guest time is already in user).
    */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.lift(7).getOrElse(0L), f.take(8).sum))
    } catch { case scala.util.control.NonFatal(_) => None }

  def stealPct(before: Option[(Long, Long)], after: Option[(Long, Long)]): Double =
    (for {
      (s0, t0) <- before
      (s1, t1) <- after
      if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val kb = try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
      } finally src.close()
      kb.map(_ / 1024.0).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
}
