package graft

/** The frame lifecycle: what a scope releases and when, what a sweep
  * drops, and that no other file in `src/main` caches, pins, releases or
  * schedules a delete at exit on its own.
  */
class FramesSpec extends SparkSpec {
  import spark.implicits._

  private def isCached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  test("a scope releases its frames on normal exit and on an exception") {
    spark.catalog.clearCache()
    val n = Frames.scoped { s =>
      val a = s.cache(Seq(1, 2, 3).toDF("x"))
      val b = s.cache(a.filter($"x" > 1))
      assert(isCached(a) && isCached(b))
      b.count()
    }
    assert(n == 2)
    assert(spark.sharedState.cacheManager.isEmpty)

    val e = intercept[IllegalStateException] {
      Frames.scoped { s =>
        s.cache(Seq(1, 2, 3).toDF("x")).count()
        s.keep(Seq(4, 5).toDF("y")).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed block releases its cached and its kept frames")
  }

  test("a kept frame survives its scope until the owner releases it") {
    spark.catalog.clearCache()
    var tmp: org.apache.spark.sql.DataFrame = null
    val kept = Frames.scoped { s =>
      tmp = s.cache(Seq(1, 2, 3).toDF("x"))
      s.keep(tmp.select(($"x" * 2).as("y")))
    }
    assert(isCached(kept))
    assert(!isCached(tmp), "the scope's own frame is gone")
    assert(kept.as[Int].collect().sorted.toSeq == Seq(2, 4, 6))
    Frames.release(kept)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("sweep drops cached frames and pinned blocks") {
    val pinned = Frames.pin(Seq(1, 2, 3).toDF("x").filter($"x" > 1))
    Frames.cache(Seq(7).toDF("z")).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(pinned.count() == 2)
    Frames.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("no file in src/main caches, pins or sweeps outside Frames.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val raw = Seq(".persist(", ".cache()", "localCheckpoint(", "getPersistentRDDs",
      "StorageLevel", ".unpersist(", "addShutdownHook", "deleteOnExit")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "Frames.scala"))
    val hits = for {
      f <- sources if f.getName != "Frames.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray.zipWithIndex
      call <- raw if line.toString.contains(call)
    } yield s"${f.getPath}:${i + 1}: $call"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
