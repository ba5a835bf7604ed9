package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Recall of the restricted ANN paths vs exact brute force on the real
  * embeddings table — documents the speed/recall trade-off of each
  * blocking scheme.
  */
class IvfRecallSpec extends SparkSpec {
  import spark.implicits._

  private val d = testDataDir("sf0.01")

  private def recallAt5(restricted: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double = {
    val hits = exact.map { case (q, t) =>
      restricted.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    hits.sum / hits.size
  }

  private def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

  /** The corpus-side cell column of driver-trained sampled centroids. */
  private def kmeansCellAssign(
      corpus: org.apache.spark.sql.DataFrame, vec: String, k: Int,
      iters: Int = 10, sampleMax: Int = 10000,
      idCol: Option[String] = None): org.apache.spark.sql.Column =
    Similarity.cellAssign(col(vec),
      Similarity.trainKmeansCentroids(corpus, vec, k, iters, sampleMax, idCol))

  test("kmeans-IVF top-k reaches usable recall; cells partition the corpus") {
    val e = Tables.embeddings(spark, d)
    val cell = kmeansCellAssign(e, "embedding", k = 8, idCol = Some("vec_id"))
    val ec = e.withColumn("cell", cell)
    val sizes = ec.groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(sizes.size > 1 && sizes.values.sum == 500)

    val queries = ec.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"cell".as("q_cell"))
    val ivf = topk(Similarity.ivfTopK(queries, ec,
      "q_id", "q_vec", "q_cell", "vec_id", "embedding", "cell", 5))
    val exact = topk(Similarity.bruteForceTopK(
      queries.drop("q_cell"), e, "q_id", "q_vec", "vec_id", "embedding", 5))
    val r = recallAt5(ivf, exact)
    // single-probe IVF on random-ish embeddings: recall is bounded by cell
    // fan-out; assert it beats the random-baseline expectation (~1/k)
    assert(r > 0.25, s"recall@5 = $r")
  }

  test("multi-probe IVF: recall grows with nProbe; all-cells probing equals brute force") {
    val e = Tables.embeddings(spark, d)
    val centroids = Similarity.trainKmeansCentroids(e, "embedding", k = 8, idCol = Some("vec_id"))
    val ec = e.withColumn("cell", Similarity.cellAssign($"embedding", centroids))
    def probed(nProbe: Int) = {
      val queries = ec.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
          Similarity.probeCells($"embedding", centroids, nProbe).as("q_cells"))
      topk(Similarity.ivfTopKProbed(queries, ec,
        "q_id", "q_vec", "q_cells", "vec_id", "embedding", "cell", 5))
    }
    val exact = topk(Similarity.bruteForceTopK(
      ec.filter($"vec_id" < 20).select($"vec_id".as("q_id"), $"embedding".as("q_vec")),
      e, "q_id", "q_vec", "vec_id", "embedding", 5))
    val r1 = recallAt5(probed(1), exact)
    val r3 = recallAt5(probed(3), exact)
    assert(r3 >= r1, s"recall@5 nProbe=3 ($r3) < nProbe=1 ($r1)")
    assert(r3 > r1 || r1 == 1.0, s"probing 3 cells should add recall: $r1 -> $r3")
    // probing every cell restores exact brute-force results
    assert(recallAt5(probed(8), exact) == 1.0)
  }

  test("deep (3-level) probe: recall grows with fine probes; exhaustive probing equals brute force (round-18)") {
    val e = Tables.embeddings(spark, d)
    val cb = Ivf.train(e, "embedding", "vec_id", k = 27, depth = 3,
      itersCoarse = 3, itersLevel = 2)
    try {
      val corpus = Ivf.assign(e, "embedding", cb).filter($"cell".isNotNull)
      val Seq(nMids, nFines) =
        cb.levels.map(l => Ivf.collectLevel(l).map(_._2).distinct.size)
      def probed(npt: Int, npm: Int, npf: Int) = {
        val queries = Ivf.probeCells(
          e.filter($"vec_id" < 20)
            .select($"vec_id".as("q_id"), $"embedding".as("q_vec")),
          "q_id", "q_vec", cb, Seq(npt, npm, npf))
        topk(Similarity.ivfTopKProbed(queries, corpus,
          "q_id", "q_vec", "probes", "vec_id", "embedding", "cell", 5))
      }
      val exact = topk(Similarity.bruteForceTopK(
        e.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"embedding".as("q_vec")),
        e, "q_id", "q_vec", "vec_id", "embedding", 5))
      val narrow = recallAt5(probed(1, 2, 2), exact)
      val wide = recallAt5(probed(2, 6, 9), exact)
      // EXHAUSTIVE probing (every top, every mid, every fine cell) must
      // collapse the approximation to exact brute force — candidates
      // are the whole assignable corpus
      val full = recallAt5(
        probed(cb.coarse.length, nMids, nFines), exact)
      assert(wide >= narrow, s"recall@5 narrow=$narrow wide=$wide")
      assert(full == 1.0, s"exhaustive deep probe recall@5 = $full")
    } finally cb.release()
  }

  test("int8-quantized top-k holds a recall floor vs the exact float baseline (q80)") {
    // round-12 (r11 verdict task 6): quantization error is a measured
    // contract, not a vibe — the same discipline this spec applies to
    // the IVF cell restriction. sf0.1 = the bench scale q80 runs at.
    val e = Tables.embeddings(spark, testDataDir("sf0.1"))
    val queries = e.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val quant = topk(Similarity.quantizedTopK(
      queries, e, "q_id", "q_vec", "vec_id", "embedding", 5))
    val exact = topk(Similarity.bruteForceTopK(
      queries, e, "q_id", "q_vec", "vec_id", "embedding", 5))
    val r = recallAt5(quant, exact)
    info(f"int8 recall@5 vs exact float at sf0.1: $r%.3f")
    // floor: int8 keeps ~2 decimal digits of each coordinate, so on
    // these embeddings the top-5 set survives almost intact; 0.8 leaves
    // room for tie-boundary churn while still failing on any real
    // quantization bug (sign flip, scale error, wrap)
    assert(r >= 0.8, s"int8 recall@5 = $r")
  }

  test("full-corpus trainer at sf0.1: cells cover the corpus and stay balanced") {
    // the q100 training path (trainKmeansCentroidsFull -> KMeans.lloyd)
    // on the real sf0.1 table: what full training buys over the sampled
    // default is cell BALANCE — at 100 TB an oversized cell is quadratic
    // pair work — so pin population coverage and a max-cell bound
    val e = Tables.embeddings(spark, testDataDir("sf0.1"))
    val n = e.count()
    val cents = Similarity.trainKmeansCentroidsFull(e, "embedding", k = 8, iters = 4)
    assert(cents.length >= 2 && cents.length <= 8, s"${cents.length} centroids")
    val ec = e.withColumn("cell", Similarity.cellAssign($"embedding", cents))
    val sizes = ec.groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.sum == n)
    // most trained cells hold members (lloyd already drops empty cells,
    // but the FINAL assignment can still leave a trained cell unused)
    assert(sizes.size >= cents.length - 2,
      s"only ${sizes.size} of ${cents.length} cells populated")
    val mean = n.toDouble / cents.length
    assert(sizes.values.max <= 4 * mean,
      s"max cell ${sizes.values.max} vs mean $mean: skewed cells")
  }

  test("trainKmeansCentroids is layout-independent (round-12 determinism contract)") {
    // same data under two different partitionings must train identical
    // centroids: Dataset.sample's per-partition Bernoulli seeding broke
    // this (a re-split corpus silently produced different neighbors);
    // the hash-ordered top-k selection depends only on the data
    val rows = (0 until 600).map(i =>
      (i.toLong, Array((i % 37).toFloat, (i % 11).toFloat)))
    val c1 = rows.toDF("vec_id", "embedding").repartition(2)
    val c2 = rows.toDF("vec_id", "embedding")
      .repartitionByRange(7, $"vec_id".desc)
    val t1 = Similarity.trainKmeansCentroids(c1, "embedding", k = 4,
      sampleMax = 100, idCol = Some("vec_id"))
    val t2 = Similarity.trainKmeansCentroids(c2, "embedding", k = 4,
      sampleMax = 100, idCol = Some("vec_id"))
    assert(t1.map(_.toSeq).toSeq == t2.map(_.toSeq).toSeq)
  }

  test("centroid training sees the whole corpus on a partition-ordered layout") {
    // two well-separated clusters, corpus ORDERED so the first partitions
    // hold only cluster A with far more rows than the training sample: a
    // limit()-style sample would train on A alone and lump B into one
    // far-away cell edge; the seeded cross-partition sample must see both
    val a = (0 until 400).map(i => (i.toLong, Array(10.0f + i % 3 * 0.1f, 0.0f)))
    val b = (0 until 400).map(i => (400L + i, Array(0.0f, 10.0f + i % 3 * 0.1f)))
    val corpus = (a ++ b).toDF("vec_id", "embedding")
      .repartitionByRange(8, $"vec_id") // physically ordered: A first
    val cell = kmeansCellAssign(corpus, "embedding", k = 2,
      iters = 5, sampleMax = 100, idCol = Some("vec_id"))
    val cells = corpus.withColumn("cell", cell)
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
    val aCells = cells.filter(_._1 < 400).map(_._2).toSet
    val bCells = cells.filter(_._1 >= 400).map(_._2).toSet
    // each cluster maps to exactly one cell and the cells differ
    assert(aCells.size == 1 && bCells.size == 1 && aCells != bCells,
      s"aCells=$aCells bCells=$bCells")
  }
}
