package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** [[Tables]]: the per-session schema memo, its staleness rule, the
  * `events` timestamp layouts, and that no other file in `src/main`
  * reads a fixture table on its own.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Writes `df` as the single parquet file `file`, as the fixtures are. */
  private def writeFile(df: DataFrame, file: Path): Unit = {
    val tmp = Files.createTempDirectory("tables-spec-write")
    try {
      val out = tmp.resolve("out")
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator.asScala
        .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
      Files.createDirectories(file.getParent)
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    } finally { org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile); () }
  }

  private def withDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir) finally { org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile); () }
  }

  private def rows(df: DataFrame) = df.orderBy("id").collect().toSeq

  test("a warm read of an unchanged table starts no job and reads the same rows") {
    withDir { dir =>
      writeFile(spark.range(5).withColumn("v", $"id" * 2), dir.resolve("t.parquet"))
      val (cold, coldJobs, _) = sparkWork(Tables.table(spark, dir.toString, "t"))
      assert(coldJobs == 1, "the first read infers the schema in one job")
      val (warm, warmJobs, _) = sparkWork(Tables.table(spark, dir.toString, "t"))
      assert(warmJobs == 0, "a warm read of unchanged files infers nothing")
      assert(warm.schema == cold.schema)
      assert(rows(warm) == rows(cold) && rows(warm).size == 5)
    }
  }

  test("a rewritten table file is inferred again and shows its new column") {
    withDir { dir =>
      val file = dir.resolve("t.parquet")
      writeFile(spark.range(5).toDF(), file)
      Tables.table(spark, dir.toString, "t")
      writeFile(spark.range(5).withColumn("extra", lit("x")), file)
      val (df, jobs, _) = sparkWork(Tables.table(spark, dir.toString, "t"))
      assert(jobs == 1, "changed leaf files must miss the memo")
      assert(df.columns.toSeq == Seq("id", "extra"))
      assert(rows(df).map(_.getString(1)) == Seq.fill(5)("x"))
    }
  }

  test("a new session infers again") {
    withDir { dir =>
      writeFile(spark.range(3).toDF(), dir.resolve("t.parquet"))
      Tables.table(spark, dir.toString, "t")
      val (df, jobs, _) = sparkWork(Tables.table(spark.newSession(), dir.toString, "t"))
      assert(jobs == 1, "the memo is per session")
      assert(df.count() == 3)
    }
  }

  test("events: nanos, micros and NTZ layouts normalize to the same UTC timestamps") {
    // src/test/resources/events_nanos/events.parquet holds ts as
    // TIMESTAMP(NANOS), written with pyarrow:
    //   import pyarrow as pa, pyarrow.parquet as pq
    //   ns = [1700000000123456789, 1700000001000000999, 1700003600999999000]
    //   pq.write_table(
    //       pa.table({"event_id": pa.array([1, 2, 3], pa.int64()),
    //                 "ts": pa.array(ns, pa.timestamp("ns"))}),
    //       "src/test/resources/events_nanos/events.parquet", version="2.6")
    val nanosFile = Path.of(getClass.getResource("/events_nanos/events.parquet").toURI)
    val micros = Seq(1700000000123456L, 1700000001000000L, 1700003600999999L)
    // one session of its own: the nanos layout flips a session conf
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val legacy = "spark.sql.legacy.parquet.nanosAsLong"
    val src = micros.zipWithIndex.map { case (m, i) => (i + 1L, m) }.toDF("event_id", "m")
      .select($"event_id", timestamp_micros($"m").as("ts"))
    withDir { root =>
      val microsDir = root.resolve("micros")
      val ntzDir = root.resolve("ntz")
      val nanosDir = nanosFile.getParent
      val swapDir = root.resolve("swap")
      writeFile(src, microsDir.resolve("events.parquet"))
      writeFile(src.withColumn("ts", $"ts".cast(TimestampNTZType)), ntzDir.resolve("events.parquet"))
      writeFile(src, swapDir.resolve("events.parquet"))

      def read(d: Path): Seq[Long] = {
        val df = Tables.events(s, d.toString)
        assert(df.schema("ts").dataType == TimestampType, s"$d")
        df.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq
      }
      def layout(d: Path) = Tables.table(s, d.toString, "events").schema("ts").dataType

      assert(read(microsDir) == micros && layout(microsDir) == TimestampType)
      assert(read(ntzDir) == micros && layout(ntzDir) == TimestampNTZType)
      assert(s.conf.getOption(legacy).forall(_ == "false"),
        "no layout but nanos flips the legacy conf")
      assert(read(nanosDir) == micros && layout(nanosDir) == LongType)
      assert(s.conf.get(legacy) == "true")
      assert(read(microsDir) == micros, "micros after nanos")
      assert(read(nanosDir) == micros, "nanos again")

      // a memoized micros file replaced by the nanos layout at the same path
      val fresh = spark.newSession()
      fresh.conf.set("spark.sql.session.timeZone", "UTC")
      def readFresh() = Tables.events(fresh, swapDir.toString)
        .orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq
      assert(readFresh() == micros)
      Files.copy(nanosFile, swapDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      assert(readFresh() == micros, "nanos read after the micros file was memoized")
      assert(fresh.conf.get(legacy) == "true")
    }
    assert(spark.conf.getOption(legacy).forall(_ == "false"),
      "the shared session keeps its conf")
  }

  test("events: a session's first nanos read fails no task") {
    import org.apache.spark.Success
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val nanosDir = Path.of(getClass.getResource("/events_nanos/events.parquet").toURI).getParent
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) { failed.incrementAndGet(); () }
    }
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.addSparkListener(listener)
    try {
      // sparkWork's end marker arrives after every event of the read
      val (n, jobs, _) = sparkWork(Tables.events(s, nanosDir.toString).count())
      assert(n == 3 && jobs > 0)
      assert(failed.get == 0, s"$failed failed tasks in the first nanos read")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("no file in src/main reads a fixture table outside Tables.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val fixtureRead =
      Tables.names.mkString("""\.(parquet|load)\(.*/(""", "|", """)\.parquet""").r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "Tables.scala"))
    val hits = for {
      f <- sources if f.getName != "Tables.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if fixtureRead.findFirstIn(line).nonEmpty
    } yield s"${f.getPath}:${i + 1}: $line"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
