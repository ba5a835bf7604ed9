package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: only dump queries whose name contains the filter
    // (builder-side targeted checks; the driver always passes two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, f) => (s, o, f)
      case other =>
        System.err.println(
          s"usage: graft.Verify <sfDir> <outDir> [nameFilter] — got ${other.length} args")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.contains(only)).foreach { case (name, fn) =>
      // NonFatal only, as in Bench's warmup: an OOM/LinkageError means a
      // corrupted JVM — continuing to dump the remaining queries would
      // hand the gate plausible-looking fiction.
      // repartition(1), not coalesce(1): coalesce collapses shuffle-free
      // plans to ONE task end-to-end, serializing pure scan/filter
      // queries; repartition keeps computation parallel and only merges
      // at the write
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cached frames and pins must not accumulate across runs
      Frames.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the correctness gate.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the one rendering implementation: it guards each dynamic renderer
    // and keeps a failed render IN the gate as a loud sentinel row
    // instead of silently dropping the query from the compare
    val rendered = SparkEntry.oracleSqlRendered(spark, sfDir, _.contains(only))
    val json = rendered
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
