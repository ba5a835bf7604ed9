package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.{Frames, SparkSpec}
import graft.operators.Ivf

/** A trained IVF codebook under eviction. Its levels are k local rows,
  * so a [[Frames.sweep]] between queries costs a re-read of those rows
  * and never a retrain, and a training that fails part-way leaves no
  * cached frame behind.
  */
class SnapshotHygieneSpec extends SparkSpec {

  // an evicted level is a k-row local scan in the stage that read its
  // cache: no stage beyond the warm run's, up to this slack
  private val slack = 1

  test("a swept codebook re-reads its levels; it never retrains") {
    val d = testDataDir("sf0.001")
    val e = graft.Tables.embeddings(spark, d)
    for ((k, depth) <- Seq((12, 2), (27, 3))) {
      val cb = Ivf.train(e, "embedding", "vec_id", k, depth,
        itersCoarse = 3, itersLevel = 2)
      try {
        def cells() = Ivf.assign(e.filter(size(col("embedding")) === cb.dims),
            "embedding", cb)
          .groupBy("cell").count().join(cb.fine.select("cell"), "cell")
          .orderBy("cell").collect().toSeq
        val (warm, _, warmStages) = sparkWork(cells())
        Frames.sweep(spark)
        val (swept, _, sweptStages) = sparkWork(cells())
        info(s"depth $depth: stages warm $warmStages, swept $sweptStages")
        assert(swept == warm, s"depth $depth: a swept codebook must give the warm cells")
        assert(sweptStages <= warmStages + slack,
          s"depth $depth: post-sweep assignment ran $sweptStages stages, warm " +
            s"$warmStages: it retrained")
      } finally cb.release()
    }

    // the same through q101's session memo
    val q101 = TrainingData.all.find(_.name == "q101_hierarchical_ivf").get
    // a session of its own keys the memo away from the shared one, so
    // the swept codebook is not what later suites plan q101 against
    val session = spark.newSession()
    def q101Rows() = q101.build(session, d).collect().toSeq
    q101Rows() // trains the memoized codebook
    val (warm, _, warmStages) = sparkWork(q101Rows())
    Frames.sweep(spark)
    val (swept, _, sweptStages) = sparkWork(q101Rows())
    assert(swept == warm, "a swept q101 codebook must give the warm result")
    assert(sweptStages <= warmStages + slack,
      s"post-sweep q101 ran $sweptStages stages, warm $warmStages: it retrained")
  }

  test("a training failure mid-level leaves no cache entry") {
    val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
    def train() = Ivf.train(e, "embedding", "vec_id", k = 27, depth = 3,
      itersCoarse = 1, itersLevel = 2)
    train().release() // warm: schema and plan caches settle
    spark.catalog.clearCache()
    val (cb, jobs, _) = sparkWork(train())
    cb.release()
    // cancel the last two jobs of a training: the Lloyd rounds of the
    // deepest level, after the level above was trained and kept. Both,
    // because the listener bus may deliver a start after its job ended.
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val cancel = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (seen.incrementAndGet() >= jobs - 1) spark.sparkContext.cancelJob(j.jobId)
    }
    spark.sparkContext.addSparkListener(cancel)
    try {
      val err = intercept[Exception](train())
      assert(String.valueOf(err.getMessage).contains("cancel"), err.toString)
    } finally spark.sparkContext.removeSparkListener(cancel)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed training must release its sample and every kept level")
  }
}
