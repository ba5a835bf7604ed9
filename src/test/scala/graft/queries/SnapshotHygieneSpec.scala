package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import graft.{Frames, SparkSpec}
import graft.operators.Ivf

/** Lifecycle of the parquet-backed codebook snapshots: [[Ivf.durable]]
  * re-materializes a trained codebook from a scratch parquet dir the
  * codebook then owns. That dir must die with the codebook's release —
  * otherwise one graft-cb* dir leaks per (session, dir) cycle for the
  * machine's lifetime — and is on the delete-on-exit list while live.
  */
class SnapshotHygieneSpec extends SparkSpec {

  private def fsOf(dir: Path) = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("Ivf.durable owns its snapshot dir; release deletes it") {
    val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
    val cb = Ivf.train(e, "embedding", "vec_id", k = 8,
      itersCoarse = 1, itersLevel = 1)
    val loaded = Ivf.durable(cb)
    val dir = loaded.snapshot.map(new Path(_))
    assert(dir.nonEmpty, "Ivf.durable must set its snapshot dir")
    val fs = fsOf(dir.get)
    assert(fs.exists(dir.get), "snapshot parquet must exist while live")
    assert(fs.cancelDeleteOnExit(dir.get), "a live snapshot must be marked delete-on-exit")
    fs.deleteOnExit(dir.get)
    loaded.release()
    assert(!fs.exists(dir.get), "close must delete the parquet snapshot")
    assert(!fs.cancelDeleteOnExit(dir.get),
      "the delete-on-exit mark must clear with the delete")
  }

  test("durableCb snapshot of a three-level codebook follows the same lifecycle") {
    val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
    val cb = Ivf.train(e, "embedding", "vec_id", k = 27, depth = 3,
      itersCoarse = 1, itersLevel = 1)
    val loaded = Ivf.durable(cb)
    val dir = loaded.snapshot.map(new Path(_))
    assert(dir.nonEmpty)
    val fs = fsOf(dir.get)
    assert(fs.exists(dir.get))
    loaded.release()
    assert(!fs.exists(dir.get))
  }

  test("scratch base honors spark.graft.scratch.dir") {
    val base = java.nio.file.Files.createTempDirectory("graft-scratch-test")
    spark.conf.set("spark.graft.scratch.dir", base.toString)
    try {
      val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
      val cb = Ivf.train(e, "embedding", "vec_id", k = 8,
        itersCoarse = 1, itersLevel = 1)
      val loaded = Ivf.durable(cb)
      val dir = loaded.snapshot.get
      assert(dir.toString.startsWith(base.toString),
        s"snapshot $dir must land under the configured base $base")
      loaded.release()
    } finally {
      spark.conf.unset("spark.graft.scratch.dir")
      java.nio.file.Files.deleteIfExists(base)
      ()
    }
  }

  test("a failed snapshot leaves no dir and no cache entry") {
    val base = java.nio.file.Files.createTempDirectory("graft-scratch-fail")
    spark.conf.set("spark.graft.scratch.dir", base.toString)
    try {
      spark.catalog.clearCache()
      // a level that plans and caches fine but fails when save writes it
      val level = Frames.cache(spark.range(3).select(
        lit(0).as("coarse"), col("id").cast("int").as("cell"),
        when(col("id") >= 0, raise_error(lit("level write fails")))
          .otherwise(array(col("id"))).as("c")))
      val cb = Ivf.Codebook(Array(Array(0.0, 1.0)), Seq(level))
      intercept[Exception](Ivf.durable(cb))
      val left = base.toFile.list().filter(_.startsWith("graft-cb-"))
      assert(left.isEmpty, s"failed snapshot dirs left behind: ${left.mkString(", ")}")
      assert(spark.sharedState.cacheManager.isEmpty,
        "a failed snapshot must release the trained codebook")
    } finally {
      spark.conf.unset("spark.graft.scratch.dir")
      java.nio.file.Files.deleteIfExists(base)
      ()
    }
  }

  /** The stages `body` submits: those between two marker jobs, less the
    * first marker's own stage (the listener bus delivers events in
    * posting order).
    */
  private def stagesOf[A](body: => A): (A, Int) = {
    val events = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        events.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        events.add("stage")
    }
    def marker(tag: String): Unit = {
      spark.sparkContext.setJobDescription(tag)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("stages-begin")
      val a = body
      marker("stages-end")
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("stages-end")) {
        val ev = events.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(ev != null, s"listener saw no end marker; got $seen")
        seen += ev
      }
      (a, seen.dropWhile(_ != "stages-begin").count(_ == "stage") - 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an evicted durable codebook re-reads its snapshot; a trained one retrains") {
    val d = testDataDir("sf0.001")
    // an evicted snapshot level is a k-row parquet scan in the stage that
    // read its cache: no stage beyond the warm run's, up to this slack
    val slack = 1
    val q101 = TrainingData.all.find(_.name == "q101_hierarchical_ivf").get
    // a session of its own keys the memo away from the shared one, so
    // the swept codebook is not what later suites plan q101 against
    val session = spark.newSession()
    def q101Rows() = q101.build(session, d).collect().toSeq
    q101Rows() // builds the memoized durable codebook
    val (warm, warmStages) = stagesOf(q101Rows())
    Frames.sweep(spark)
    val (swept, sweptStages) = stagesOf(q101Rows())
    assert(swept == warm, "a re-read snapshot must give the warm result")
    assert(sweptStages <= warmStages + slack,
      s"post-sweep q101 ran $sweptStages stages, warm $warmStages: it retrained")

    // negative control: the same sweep makes an un-snapshotted codebook
    // re-run its Lloyd chain from lineage
    val e = graft.Tables.embeddings(spark, d)
    val cb = Ivf.train(e, "embedding", "vec_id", k = 12,
      itersCoarse = 3, itersLevel = 2)
    try {
      def cells() = Ivf.assign(e.filter(size(col("embedding")) === cb.dims),
          "embedding", cb)
        .groupBy("cell").count().join(cb.fine.select("cell"), "cell")
        .orderBy("cell").collect().toSeq
      val (trained, trainedStages) = stagesOf(cells())
      Frames.sweep(spark)
      val (retrained, retrainedStages) = stagesOf(cells())
      assert(retrained == trained)
      info(s"stages: q101 warm $warmStages, swept $sweptStages; trained " +
        s"codebook warm $trainedStages, swept $retrainedStages")
      assert(retrainedStages > trainedStages + slack,
        s"post-sweep trained codebook ran $retrainedStages stages, warm " +
          s"$trainedStages: the bound cannot tell a retrain from a re-read")
    } finally cb.release()
  }
}
