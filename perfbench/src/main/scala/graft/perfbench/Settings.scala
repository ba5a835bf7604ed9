package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The run settings as the JVM and Spark actually hold them, printed
  * with every result so that no setting is silently inherited.
  */
object Settings {
  def describe(spark: SparkSession): Map[String, Any] = {
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    def flag(prefix: String): String = args.filter(_.startsWith(prefix)).lastOption.getOrElse("unset")
    val conf = spark.conf
    Map(
      "cores" -> spark.sparkContext.defaultParallelism,
      "master" -> spark.sparkContext.master,
      "xms" -> flag("-Xms"),
      "xmx" -> flag("-Xmx"),
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getName).mkString("+"),
      "young_gen" -> flag("-Xmn"),
      "survivor_ratio" -> flag("-XX:SurvivorRatio"),
      "code_cache" -> flag("-XX:ReservedCodeCacheSize"),
      "compile_threshold_scaling" -> flag("-XX:CompileThresholdScaling"),
      "page_size" -> spark.sparkContext.getConf.get("spark.buffer.pageSize", "unset"),
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> conf.get("spark.sql.adaptive.enabled"),
      "session" -> "GraftSession.builder",
      "graft_extensions" -> spark.catalog.functionExists("haversine_km"),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
  }
}
