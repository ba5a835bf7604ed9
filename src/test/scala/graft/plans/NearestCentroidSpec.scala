package graft.plans

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** The coarse-pruned native nearest-centroid kernel must be a
  * bit-invisible swap for the flat k-struct `array_min` composition it
  * replaced (round-14): same cell for every input, including the
  * degenerate edges whose flat behavior is non-obvious (all-NULL scores
  * land on cell 0 because struct minima order nulls first).
  */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  private def nat(vec: org.apache.spark.sql.Column, cs: Array[Array[Double]]) =
    GraftBridge.column(NearestCentroid(
      GraftBridge.expression(vec), cs.map(_.toSeq).toSeq))

  /** The flat composition the kernel replaced, kept as its
    * independently derived reference: argmin via `array_min` over
    * (cc − 2·v·c, cell) structs, lexicographic so ties keep the
    * smallest cell id — the total order [[Similarity.cellAssignSql]]
    * renders. Not a when/otherwise fold: a fold referencing the running
    * best twice per step doubles the Catalyst tree per centroid.
    */
  private def composed(vec: org.apache.spark.sql.Column, cs: Array[Array[Double]]) = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      GraftBridge.column(FloatArrayDot(GraftBridge.expression(a), GraftBridge.expression(b)))
    val scored = cs.zipWithIndex.map { case (c, i) =>
      val cl = typedLit(c.toSeq).cast("array<float>")
      struct((dot(cl, cl) - dot(vec, cl) * 2.0).as("d"), lit(i).as("cell"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("cell")
  }

  private def rnd(seed: Long): Iterator[Double] = {
    var s = seed
    Iterator.continually {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 6.0
    }
  }

  test("kernel equals the flat array_min composition on random corpora (k up to 100)") {
    for (k <- Seq(1, 3, 8, 33, 100); dims <- Seq(4, 64)) {
      val it = rnd(k * 1000L + dims)
      val cs = Array.fill(k, dims)(it.next())
      val vecs = (0 until 200).map { i =>
        // mix free vectors with near-centroid ones so pruning boundaries
        // and interior cells are both exercised
        if (i % 3 == 0) Array.fill(dims)(it.next().toFloat)
        else {
          val base = cs(i % k)
          base.map(x => (x + it.next() * 0.1).toFloat)
        }
      }
      val df = vecs.map(Tuple1(_)).toDF("v")
        .select(nat($"v", cs).as("fast"),
          composed($"v", cs).as("flat"))
      val rows = df.collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(0) == r.getInt(1),
          s"k=$k dims=$dims row $i: kernel ${r.getInt(0)} vs flat ${r.getInt(1)}")
      }
    }
  }

  test("tie-break and degenerate edges match the flat composition exactly") {
    // duplicate centroids: lexicographic (distance, cell) keeps the
    // SMALLEST id; degenerate vectors (null array, wrong length, null
    // element) make every flat score NULL and the struct min lands on 0
    val cs = Array(Array(1.0, 1.0), Array(5.0, 5.0), Array(1.0, 1.0))
    val df = Seq(
      Tuple1(Array[Option[Float]](Some(1.1f), Some(0.9f))), // ties cells 0 and 2
      Tuple1(Array[Option[Float]](Some(4.0f), Some(6.0f))),
      Tuple1(null.asInstanceOf[Array[Option[Float]]]),      // null array
      Tuple1(Array[Option[Float]](Some(1.0f))),             // wrong length
      Tuple1(Array[Option[Float]](Some(1.0f), None)),       // null element
      // NaN element: every flat score is NaN and the struct minimum
      // ties down to cell 0 — the kernel must not return its internal
      // sentinel (round-14 review: it returned Int.MaxValue)
      Tuple1(Array[Option[Float]](Some(Float.NaN), Some(0.5f)))
    ).toDF("v")
      .select(nat($"v", cs).as("fast"),
        composed($"v", cs).as("flat"))
    val rows = df.collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(!r.isNullAt(0) && !r.isNullAt(1) && r.getInt(0) == r.getInt(1),
        s"row $i: kernel ${r.get(0)} vs flat ${r.get(1)}")
    }
    assert(rows(0).getInt(0) == 0) // tie kept the smallest cell id
    assert(rows(1).getInt(0) == 1)
    assert(rows(2).getInt(0) == 0 && rows(3).getInt(0) == 0 && rows(4).getInt(0) == 0)
    assert(rows(5).getInt(0) == 0) // NaN element lands on cell 0, both paths
  }

  test("structural equality holds (Seq params) so CSE can deduplicate identical nodes") {
    val c = GraftBridge.expression(col("v"))
    assert(NearestCentroid(c, Seq(Seq(1.0, 2.0))) ==
      NearestCentroid(c, Seq(Seq(1.0, 2.0))))
  }

  test("binding to a non-float array fails analysis, not silently misreads (round-14 ADVICE)") {
    // the kernel reads via ArrayData.getFloat: an array<double> child
    // would decode raw bits as garbage floats without this check
    import spark.implicits._
    val df = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(nat($"v", Array(Array(1.0, 2.0)))).collect()
    }
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }
}
