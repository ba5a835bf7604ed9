package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.operators.Ivf

/** [[GraftQuery.SessionMemo]] lifecycle (round-17, r16 verdict task:
  * memos holding a persisted-DataFrame artifact — an IVF codebook —
  * leaked one cache entry per (session, dir) switch, because `slot.set`
  * discarded the replaced value without cleanup).
  */
class SessionMemoSpec extends SparkSpec {

  test("same (session, dir) trains once and never closes") {
    var trained = 0
    var closed = 0
    val memo = new GraftQuery.SessionMemo[Int](
      (_, _) => { trained += 1; trained },
      close = _ => closed += 1)
    assert(memo(spark, "a") == 1)
    assert(memo(spark, "a") == 1)
    assert(trained == 1 && closed == 0)
  }

  test("a (session, dir) switch closes exactly the replaced value") {
    val closedVals = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new GraftQuery.SessionMemo[String](
      (_, d) => s"artifact-$d",
      close = closedVals += _)
    memo(spark, "a")
    memo(spark, "b") // replaces a
    memo(spark, "b") // cached — no train, no close
    memo(spark, "c") // replaces b
    assert(closedVals.toSeq == Seq("artifact-a", "artifact-b"))
  }

  test("the replaced value closes before its successor trains") {
    // two codebooks trained on the same data share one cache entry, so
    // a release after the successor trained would uncache it
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new GraftQuery.SessionMemo[String](
      (_, d) => { events += s"train $d"; d },
      close = v => events += s"close $v")
    memo(spark, "a")
    memo(spark, "b")
    assert(events.toSeq == Seq("train a", "close a", "train b"))
  }

  test("a replaced codebook's persisted fine frame is unpersisted") {
    def tinyCorpus(s: SparkSession, seed: Int) = {
      import s.implicits._
      (0 until 48)
        .map(i => (i.toLong,
          Array.tabulate(4)(j => (math.sin(i * (j + 1) + seed) + 2.0).toFloat)))
        .toDF("vec_id", "embedding")
    }
    val memo = new GraftQuery.SessionMemo[Ivf.Codebook](
      (s, d) => Ivf.train(tinyCorpus(s, d.length), "embedding", "vec_id",
        k = 4, itersCoarse = 1, itersLevel = 1),
      close = _.release())
    val cbA = memo(spark, "dirA")
    assert(cbA.fine.storageLevel != StorageLevel.NONE,
      "trained codebook's fine frame should be persisted")
    assert(memo(spark, "dirA") eq cbA) // cached, still persisted
    assert(cbA.fine.storageLevel != StorageLevel.NONE)
    val cbB = memo(spark, "dirBB") // dir switch: cbA must release
    assert(cbA.fine.storageLevel == StorageLevel.NONE,
      "replaced codebook's fine frame must be unpersisted on slot swap")
    assert(cbB.fine.storageLevel != StorageLevel.NONE)
    cbB.release()
  }
}
