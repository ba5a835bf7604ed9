package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan dumper: writes `explain("formatted")` for every registered
  * query to `<outDir>/<query>_<suffix>.txt` so plan shapes (Exchange
  * count, join strategy, PushedFilters/ReadSchema, WholeStageCodegen
  * spans) can be diffed before/after a change without re-running the
  * bench.
  *
  * Usage: sbt "runMain graft.Plans <outDir> <suffix>"
  * Env:  SPARK_GRAFT_SF_DIR (default sf0.01 — plans are shape-stable
  *       across SFs; dynamic-trained literals differ but their SHAPE is
  *       what is being pinned), SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_ONLY
  *       (same prefix filter as Bench).
  *
  * Note: with AQE on this is the initial plan (isFinalPlan=false); what
  * it pins is Exchange placement, join strategy and scan pushdown, all
  * of which are decided here.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val suffix = args.lift(1).getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(o => n == o || n.startsWith(o + "_"))))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        } catch {
          case scala.util.control.NonFatal(e) =>
            s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"plan $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
