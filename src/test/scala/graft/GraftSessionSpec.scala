package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

class GraftSessionSpec extends SparkSpec {
  test("getOrCreate installs graft SQL functions on an existing session") {
    // the shared session is built with the extension, so the check runs
    // on a session that has lost the function
    val s = spark.newSession()
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("haversine_km"))
    assert(!s.catalog.functionExists("haversine_km"))
    SparkSession.setActiveSession(s)
    try {
      val got = GraftSession.getOrCreate()
      assert(got eq s)
      val km = got.sql("SELECT haversine_km(0.0, 0.0, 0.0, 1.0) AS km")
        .collect().head.getDouble(0)
      assert(math.abs(km - 111.19) < 0.5) // one degree of longitude at equator
    } finally SparkSession.setActiveSession(spark)
  }

  test("a warm session compiles nothing twice") {
    // the `query_mix` session of perfbench: one query per family, plus
    // q37/q38 for the agg layer
    val mix = Seq(
      "q04_star_broadcast_join", "q24_interval_join", "q33_datetime_battery",
      "q90_ecotaxa_export", "q37_biovolume_rollup", "q38_psd_fit",
      "q42_minhash_lsh_dedup", "q55_feature_extract",
      "q64_taxa_cleaner_40", "q61_pii_redact", "q77_skew_join_unsalted")
    val dir = testDataDir("sf0.001")
    def pass(): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      mix.foreach { name =>
        SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
        Frames.sweep(spark)
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    val first = pass()
    val second = pass()
    assert(second == 0, s"the second pass compiled $second classes (the first $first)")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048")
  }
}
