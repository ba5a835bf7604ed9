package graft

import org.apache.spark.sql.SparkSession

/** Recommended session factory: the configuration this library is
  * designed against, in one place, so a user of the reference pipeline
  * can stand up an equivalent Spark session with one call.
  *
  * Notes per setting:
  *  - AQE on (default in Spark 4): runtime coalescing + skew-join splits
  *    complement the static designs in `operators/`;
  *  - shuffle partitions sized to cores for local work — on a real
  *    cluster pass `shufflePartitions ≈ 2-3× total executor cores`, or
  *    rely on AQE coalescing from a higher initial value;
  *  - 128 MB file split targets keep scan tasks uniform over 100 TB
  *    (the parquet default, stated explicitly as a contract);
  *  - graft's native SQL functions (haversine_km) registered via
  *    [[graft.plans.GraftExtensions]];
  *  - a codegen cache of 2048 generated classes, not Spark's 100: the
  *    cache is an LRU over 4 segments, and one smaller than a session's
  *    working set recompiles and cold-loads classes on every query.
  *    perfbench's 11-query `query_mix` needs 157 classes (at 100
  *    entries, 13 recompiles and ~140 ms of Janino per query), its
  *    `ifcb_feed` about 270, and all 112 queries about 1356. The size is a static conf, read once per JVM at the
  *    first generated class: [[getOrCreate]] on an existing context
  *    cannot change it, and a caller's `.config` still overrides it.
  */
object GraftSession {

  /** Fully-qualified class of Spark's RocksDB state store provider.
    * The default (HDFSBackedStateStoreProvider) keeps every state row on
    * the executor heap; RocksDB spills state to local disk with an
    * off-heap block cache, for streams whose live state (sessions, dedup
    * fingerprints inside the watermark horizon) exceeds executor memory.
    * Select it with
    * `builder().config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)`.
    * StreamsSpec pins that graft's streaming operators behave identically
    * (results and watermark eviction) on both providers.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", 128L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", 2048L)
      .withExtensions(new graft.plans.GraftExtensions)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    // getOrCreate may return a pre-existing session built elsewhere, in
    // which case constructor-time extensions did not run
    graft.plans.GraftExtensions.install(s)
    s
  }
}
