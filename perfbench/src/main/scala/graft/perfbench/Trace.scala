package graft.perfbench

import scala.collection.mutable
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder plus a Spark listener, both owned by the benchmark.
  *
  * The harness opens one span per op and child spans around each public
  * layer call it makes. The listener keeps one record per Spark job:
  * wall interval, task totals, and the call site of the SQL execution
  * the job belongs to (or, outside one, of the job's result stage). A
  * job is attributed to the first graft frame of that call site that is
  * not the harness itself, so a composite call such as
  * `IngestQc.runIncremental` splits into the source files whose actions
  * started its jobs, without touching the program. Everything stays in
  * memory until [[write]] at the end of the run.
  *
  * Until [[start]] spans cost one branch and no listener is registered:
  * untraced ops execute the same code path as traced ones.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private var on = false
  def recording: Boolean = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, nowMs, Double.NaN)
      spans += s
      open = s :: open
      try body
      finally {
        s.endMs = nowMs
        open = open.tail
      }
    }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  /** call site of each SQL execution, where its action was called */
  private val executionSite = mutable.HashMap.empty[Long, Site]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { executionSite(s.executionId) = Site.parse(s.details) }
      case _ =>
    }
    // a job inside a SQL execution takes the execution's call site: jobs
    // of broadcasts and subqueries start on Spark's own threads, whose
    // stacks hold no graft frame
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong)).filter(_ != Site.Unattributed)
      lazy val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN,
        execution.getOrElse(Site.parse(result.map(_.details).getOrElse(""))))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
        rec.tasks += 1
        if (e.reason != TaskSuccess) rec.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          rec.runMs += m.executorRunTime
          rec.cpuNs += m.executorCpuTime
          rec.gcMs += m.jvmGCTime
          rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          rec.inputRecords += m.inputMetrics.recordsRead
          rec.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }
  /** Query executions that finished, with their planning-phase time:
    * (end of planning, analysis + optimization + planning ms).
    */
  val planned = mutable.ArrayBuffer.empty[(Double, Double)]
  private val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val end = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      Trace.this.synchronized { planned += ((end.toDouble, ms.toDouble)) }
    }
  }

  /** Turns recording on: spans are kept and both listeners registered. */
  def start(): Unit = if (!on) {
    on = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Turns recording off once the listeners have seen every event
    * posted so far.
    */
  def pause(): Unit = if (on) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark)
    on = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Planning ms of the query executions that finished inside the span. */
  def planMsIn(s: Span): Double = synchronized {
    planned.filter { case (end, _) => end >= s.startMs - 1 && end <= s.endMs + 1 }.map(_._2).sum
  }

  /** Engine metrics per traced op, as medians over the ops; totals for
    * failed tasks; plus the share of task time no graft frame owns.
    */
  def sparkMetrics(ops: Seq[Span], cores: Int): Map[String, Double] = {
    val perOp = ops.map { s =>
      val js = jobsIn(s)
      (js, s)
    }
    def med(f: (Seq[JobRec], Span) => Double): Double =
      Stats.median(perOp.map { case (js, s) => f(js, s) })
    val allJobs = perOp.flatMap(_._1)
    val runAll = allJobs.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs" -> med((js, _) => js.size.toDouble),
      "spark.tasks" -> med((js, _) => js.map(_.tasks).sum.toDouble),
      "spark.driver_s" -> med((_, s) => driverOnlyMs(s) / 1000.0),
      "spark.task_busy_frac" -> med((js, s) => js.map(_.runMs).sum / (s.durMs * cores)),
      "spark.task_cpu_s" -> med((js, _) => js.map(_.cpuNs).sum / 1e9),
      "spark.shuffle_write_mb" -> med((js, _) => js.map(_.shuffleWriteBytes).sum / 1048576.0),
      "spark.gc_s" -> med((js, _) => js.map(_.gcMs).sum / 1000.0),
      "spark.spill_mb" -> med((js, _) => js.map(_.spillBytes).sum / 1048576.0),
      "spark.failed_tasks" -> allJobs.map(_.failedTasks).sum.toDouble,
      "bench.unattributed_frac" ->
        (if (runAll > 0) allJobs.filter(layerOf(_) == "unattributed").map(_.runMs).sum / runAll
         else 0.0))
  }

  /** The layer a job belongs to: that of the graft frame whose action
    * started it, or, when the harness's own action forced a lazy layer
    * result, that of the innermost `<layer>.<call>` span it ran in.
    */
  def layerOf(j: JobRec): String =
    if (j.site != Site.Unattributed) j.site.layer
    else spans.filter(s => s.name.contains('.') && j.startMs >= s.startMs - 1 &&
        j.startMs <= s.endMs + 1).sortBy(-_.startMs).headOption
      .map(_.name.takeWhile(_ != '.')).getOrElse("unattributed")

  /** Share of the spans' task run time per layer (see [[layerOf]]). */
  def taskShareByLayer(spansIn: Seq[Span]): Map[String, Double] = {
    val js = spansIn.flatMap(jobsIn)
    val total = js.map(_.runMs).sum.toDouble
    if (total <= 0) Map.empty
    else js.groupBy(layerOf).map { case (l, g) => l -> g.map(_.runMs).sum / total }
  }

  /** Jobs whose start falls inside the span, in order. */
  def jobsIn(s: Span): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1).toSeq
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the time its child spans cover. */
  def selfMs(s: Span): Double = s.durMs - children(s).map(_.durMs).sum

  /** Wall time inside the span during which no Spark job was running. */
  def driverOnlyMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs.isNaN) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    s.durMs - covered
  }

  /** Writes every span and job record as one JSON document. */
  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val spanRows = spans.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "self_ms" -> selfMs(s))
    }
    val jobRows = jobs.values.map { j =>
      mutable.LinkedHashMap[String, Any]("job" -> j.jobId, "start_ms" -> j.startMs,
        "dur_ms" -> j.durMs, "layer" -> layerOf(j), "file" -> j.site.file,
        "line" -> j.site.line, "method" -> j.site.method, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "task_run_ms" -> j.runMs,
        "task_cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
        "input_records" -> j.inputRecords, "output_records" -> j.outputRecords)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Json.render(
      mutable.LinkedHashMap[String, Any]() ++ header ++
        Seq("spans" -> spanRows, "jobs" -> jobRows)))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, var endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  /** Where a job's action ran in graft: the layer (graft's package
    * under `graft.`, or `graft` for the root package), source file,
    * line and method. `layer == "unattributed"` when no graft frame
    * outside the harness is on the call site.
    */
  final case class Site(layer: String, file: String, line: Int, method: String)

  object Site {
    private val Frame = """^\s*(graft\.[\w.$]+)\.([\w$]+)\(([^:)]+)(?::(\d+))?\)""".r
    val Unattributed: Site = Site("unattributed", "", -1, "")

    def parse(details: String): Site =
      details.linesIterator.collectFirst {
        case Frame(cls, method, file, line)
            if !cls.startsWith("graft.perfbench.") =>
          val pkg = cls.split('.').dropRight(1)
          Site(if (pkg.length >= 2) pkg(1) else "graft", file,
            Option(line).map(_.toInt).getOrElse(-1), method)
      }.getOrElse(Unattributed)
  }

  final case class JobRec(jobId: Int, startMs: Double, var endMs: Double, site: Site) {
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputRecords = 0L
    var outputRecords = 0L
    /** 0 for a job whose end was never posted (AQE can abandon one). */
    def durMs: Double = if (endMs.isNaN) 0.0 else endMs - startMs
  }
}
