package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the
  * same logical plan runs at sf0.001 (smoke), sf0.01 (correctness) and
  * sf0.1 (bench) — and, unchanged, against a 100 TB partitioned layout:
  * nothing here assumes single-file inputs.
  *
  * Schema memo: a schemaless parquet read infers its schema in a Spark
  * job that reads a footer. [[table]] remembers each table's inferred
  * schema per (session, dir) together with the table's leaf files —
  * path, length and modification time of each — and later reads of
  * that table pass the schema instead, so they start no job. A
  * remembered schema is used only while the leaf files the new read
  * lists are exactly the remembered ones: a table whose files were
  * added, removed or rewritten is inferred again, as is every table in
  * a new session or after a switch to another dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table's inferred schema and its leaf files at inference. */
  private final case class Inferred(schema: StructType, files: Set[(String, Long, Long)])

  private val inferred = new GraftQuery.SessionMemo[
    java.util.concurrent.ConcurrentHashMap[String, Inferred]](
    (_, _) => new java.util.concurrent.ConcurrentHashMap)

  /** The (path, length, modification time) of each file `df` scans, from
    * the file index its read already listed.
    */
  private def leafFiles(df: DataFrame): Set[(String, Long, Long)] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation } match {
      case Some(HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _)) =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
      case other => throw new IllegalStateException(s"not a parquet file scan: $other")
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, name, _ => ())

  /** [[table]], running `beforeInference` on the table's path first
    * whenever the schema must be inferred.
    */
  private def read(spark: SparkSession, dir: String, name: String,
      beforeInference: String => Unit): DataFrame = {
    val path = s"$dir/$name.parquet"
    val known = inferred(spark, dir)
    Option(known.get(name))
      .map(m => (m, spark.read.schema(m.schema).parquet(path)))
      .collect { case (m, df) if leafFiles(df) == m.files => df }
      .getOrElse {
        beforeInference(path)
        val df = spark.read.parquet(path)
        known.put(name, Inferred(df.schema, leafFiles(df)))
        df
      }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` varies by fixture generation: TIMESTAMP(NANOS) (which
    * Spark 4 refuses to read as a timestamp — [PARQUET_TYPE_ILLEGAL] —
    * so the legacy conf reads it as raw nanos and integer division
    * truncates to µs, exactly DuckDB's TIMESTAMP_NS→µs behavior) or
    * plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4
    * infers as TIMESTAMP_NTZ). Both normalize to a session-UTC
    * TimestampType so every downstream plan and oracle sees identical
    * values regardless of which layout the directory holds.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Flip the legacy nanos conf ONLY when this directory actually holds
    // the nanos layout (Spark refuses it at schema inference) — setting
    // it unconditionally would permanently change how any other
    // nanos-timestamp parquet in the shared session is read. It stays
    // set in the nanos case: the scan consults it again at execution,
    // so a set-read-restore dance would break the very read it enabled.
    // A remembered schema skips inference, but only in the session and
    // on the files that already took this path.
    val raw = read(s, d, "events", path =>
      if (tsIsNanos(s, path)) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        // NTZ holds wall-clock micros; the cast re-reads them in the
        // session zone. Only UTC makes that equal the nanos layout (whose
        // timestamp_micros path is zone-independent) and the DuckDB
        // oracle — so fail loudly instead of shifting silently.
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events() NTZ→Timestamp cast requires spark.sql.session.timeZone=UTC " +
            s"(got '${s.conf.get("spark.sql.session.timeZone")}')")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet-derived type $other " +
          "(expected nanos-as-long, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }

  /** Whether the parquet footer of `path`'s first data file (by name)
    * declares `ts` as TIMESTAMP(NANOS) — read on the driver, so finding
    * the layout starts no Spark job.
    */
  private def tsIsNanos(s: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = s.sessionState.newHadoopConf()
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val leaves = fs.listFiles(root, true)
    val data = Iterator.continually(leaves).takeWhile(_.hasNext).map(_.next().getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    data.minByOption(_.toString).exists { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val ts = Option.when(schema.containsField("ts"))(schema.getType(schema.getFieldIndex("ts")))
        ts.map(_.getLogicalTypeAnnotation).exists {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }
      } finally reader.close()
    }
  }

  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
