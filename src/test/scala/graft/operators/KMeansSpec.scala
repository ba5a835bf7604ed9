package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Distributed integer-exact Lloyd k-means (the full-corpus complement
  * of Similarity.trainKmeansCentroids; oracle parity is the q99 gate).
  */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def quantized(pts: Seq[(Long, Seq[Float])]) =
    pts.toDF("id", "v").select($"id", KMeans.quantize($"v").as("xq"))

  /** One-parent [[KMeans.lloyd]]: the flat loop q99 runs. */
  private def flat(q: org.apache.spark.sql.DataFrame, init: Seq[Seq[Long]],
      iters: Int): Seq[Seq[Long]] =
    KMeans.lloyd(q, lit(0), $"xq", Map(0 -> init), iters)(0)

  test("quantize floors at 2^13 exactly, negative values toward -inf") {
    val q = quantized(Seq((1L, Seq(1.0f, -1.0f, 0.5f, -0.50006104f))))
      .select($"xq").as[Seq[Long]].head()
    // -0.50006104f * 8192 = -4096.5000...f exactly -> floor -4097
    assert(q == Seq(8192L, -8192L, 4096L, -4097L))
  }

  test("lloyd separates two clean clusters with exact integer centroids") {
    // cluster A around 0, cluster B around 100; seeds one in each
    val pts = Seq(
      1L -> Seq(0.0f, 0.0f), 2L -> Seq(100f, 100f),
      3L -> Seq(1.0f, 0.0f), 4L -> Seq(0.0f, 1.0f),
      5L -> Seq(101f, 100f), 6L -> Seq(100f, 101f))
    val q = quantized(pts)
    val init = Seq(Seq(0L, 0L), Seq(100L * 8192, 100L * 8192))
    val cents = flat(q, init, iters = 2)
    // exact means: A = (0+8192+0)/3, (0+0+8192)/3 floored
    val third = Math.floorDiv(8192L, 3L)
    assert(cents == Seq(
      Seq(third, third),
      Seq(100L * 8192 + third, 100L * 8192 + third)))
    val summary = KMeans.cellSummary(q, "id", "xq", cents)
      .select($"cell", $"n", $"first_member").as[(Int, Long, Long)].collect()
    assert(summary.toSeq == Seq((0, 3L, 1L), (1, 3L, 2L)))
    // deterministic across re-runs
    assert(cents == flat(q, init, iters = 2))
  }

  test("duplicate seeds: ties assign to the smallest cell, empty cell reindexes away") {
    val q = quantized(Seq(1L -> Seq(1.0f, 2.0f), 2L -> Seq(3.0f, 4.0f)))
    val cents = flat(q, Seq(Seq(0L, 0L), Seq(0L, 0L)), iters = 1)
    // every point ties between the two identical centroids -> cell 0;
    // cell 1 empties and the survivor repacks to a single centroid
    assert(cents.length == 1)
    assert(cents.head == Seq(2L * 8192, 3L * 8192))
  }

  test("a ragged row takes no part, in lloyd and in its lloydSql twin run by DuckDB") {
    // id 7 has three dims: under a min-length distance it would tie
    // between both seeds and drag cell 0 toward (50, 50)
    val pts = Seq(
      1L -> Seq(0.0f, 0.0f), 2L -> Seq(100f, 100f),
      3L -> Seq(1.0f, 0.0f), 4L -> Seq(0.0f, 1.0f),
      5L -> Seq(101f, 100f), 6L -> Seq(100f, 101f),
      7L -> Seq(50f, 50f, 50f))
    val q = quantized(pts)
    val init = Seq(Seq(0L, 0L), Seq(100L * 8192, 100L * 8192))
    val cents = flat(q, init, iters = 2)
    assert(cents == flat(quantized(pts.init), init, iters = 2))
    val got = KMeans.cellSummary(q, "id", "xq", cents).collect()
      .map(r => (0 until 5).map(i => r.get(i).toString.toLong)).toSeq
    assert(got.map(_.take(3)) == Seq(Seq(0L, 3L, 1L), Seq(1L, 3L, 2L)))

    val dir = java.nio.file.Files.createTempDirectory("kmeans-ragged").toString
    pts.toDF("id", "v").coalesce(1).write.parquet(s"$dir/t")
    val py = "import duckdb, json, sys\n" +
      "con = duckdb.connect()\n" +
      s"con.execute(\"CREATE VIEW t AS SELECT * FROM read_parquet('$dir/t/*.parquet')\")\n" +
      "print(json.dumps(con.execute(sys.stdin.read()).fetchall()))\n"
    val sql = KMeans.lloydSql("t", "id", "v", k = 2, iters = 2)
    val out = new StringBuilder
    val rc = scala.sys.process.Process(Seq("python3", "-c", py))
      .#<(new java.io.ByteArrayInputStream(sql.getBytes("UTF-8")))
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(rc == 0, out.toString)
    val want = "-?\\d+".r.findAllIn(out.toString.trim).map(_.toLong).toSeq.grouped(5).toSeq
    assert(got == want, s"spark $got vs duckdb $want")
  }

  test("a ragged or out-of-clamp seed fails loudly, in every parent") {
    val q = quantized(Seq(1L -> Seq(1.0f, 2.0f), 2L -> Seq(3.0f, 4.0f)))
    intercept[IllegalArgumentException](flat(q, Seq(Seq(0L, 0L), Seq(0L, 0L, 0L)), iters = 1))
    intercept[IllegalArgumentException](flat(q, Seq(Seq(0L, 1L << 40)), iters = 1))
    val two = q.withColumn("p", ($"id" % 2).cast("int"))
    val e = intercept[IllegalArgumentException](KMeans.lloyd(two, $"p", $"xq",
      Map(0 -> Seq(Seq(0L, 0L)), 1 -> Seq(Seq(0L))), iters = 1))
    assert(e.getMessage.contains("one length"), e.getMessage)
  }
}
