package graft.queries

import graft.SparkSpec
import graft.operators.Ivf

/** Delete-on-close contract for the parquet-backed codebook snapshots:
  * durableCb re-materializes a trained codebook from a scratch parquet
  * dir, and that dir must die with the memo slot — otherwise one
  * graft-cb* dir leaks per (session, dir) cycle for the machine's
  * lifetime.
  */
class SnapshotHygieneSpec extends SparkSpec {

  test("durableCb registers its snapshot dir; releaseCb deletes it") {
    val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
    val cb = Ivf.train(e, "embedding", "vec_id", k = 8,
      itersCoarse = 1, itersLevel = 1)
    val loaded = TrainingData.durableCb(cb)
    val dir = TrainingData.snapshotDirOf(loaded)
    assert(dir.nonEmpty, "durableCb must register its snapshot dir")
    val fs = dir.get.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(dir.get), "snapshot parquet must exist while live")
    TrainingData.releaseCb(loaded)
    assert(!fs.exists(dir.get), "close must delete the parquet snapshot")
    assert(TrainingData.snapshotDirOf(loaded).isEmpty,
      "the registry entry must clear with the delete")
  }

  test("durableCb snapshot of a three-level codebook follows the same lifecycle") {
    val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
    val cb = Ivf.train(e, "embedding", "vec_id", k = 27, depth = 3,
      itersCoarse = 1, itersLevel = 1)
    val loaded = TrainingData.durableCb(cb)
    val dir = TrainingData.snapshotDirOf(loaded)
    assert(dir.nonEmpty)
    val fs = dir.get.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(dir.get))
    TrainingData.releaseCb(loaded)
    assert(!fs.exists(dir.get))
  }

  test("scratch base honors spark.graft.scratch.dir") {
    val base = java.nio.file.Files.createTempDirectory("graft-scratch-test")
    spark.conf.set("spark.graft.scratch.dir", base.toString)
    try {
      val e = graft.Tables.embeddings(spark, testDataDir("sf0.001"))
      val cb = Ivf.train(e, "embedding", "vec_id", k = 8,
        itersCoarse = 1, itersLevel = 1)
      val loaded = TrainingData.durableCb(cb)
      val dir = TrainingData.snapshotDirOf(loaded).get
      assert(dir.toString.startsWith(base.toString),
        s"snapshot $dir must land under the configured base $base")
      TrainingData.releaseCb(loaded)
    } finally {
      spark.conf.unset("spark.graft.scratch.dir")
      java.nio.file.Files.deleteIfExists(base)
      ()
    }
  }
}
