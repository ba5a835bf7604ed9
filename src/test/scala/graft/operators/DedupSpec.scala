package graft.operators

import graft.SparkSpec

/** Sketch-dedup behavior on a controlled fixture: near-dups found, unrelated
  * docs not, and MinHash-LSH recall vs the exact n-gram path.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home " +
    "while the sun sets slowly behind distant mountains casting long shadows " +
    "upon the quiet valley where rivers flow gently past old stone bridges " +
    "and travelers rest beneath tall green trees watching evening stars appear"
  private def mutate(s: String, i: Int): String = {
    val w = s.split(" ")
    w.updated(i, "XX").mkString(" ")
  }

  private def docs = Seq(
    (1L, base),
    (2L, mutate(base, 5)),            // near-dup of 1
    (3L, base.split(" ").reverse.mkString(" ")), // same words, different order
    (4L, "completely different content about spark catalyst optimizer rules and physical plans with many operators involved here today")
  ).toDF("doc_id", "text")

  test("minhash LSH finds the near-dup pair and not the unrelated doc") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // doc 3 shares every word but almost no 3-gram: must not pair with 1
    assert(!pairs.contains((1L, 3L)))
  }

  test("ngram jaccard (exact) agrees with LSH on this fixture") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash pairs the near-dup at small hamming distance") {
    // one word changed in ~45 → small hamming out of 64 on this fixture
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("exactGroups keeps smallest id and counts members") {
    val df = Seq((10L, "a"), (7L, "a"), (3L, "b"), (1L, "c"), (2L, "c"), (5L, "c"))
      .toDF("id", "k")
    val g = Dedup.exactGroups(df, "id", $"k")
      .select("dup_key", "n", "keeper").as[(String, Long, Long)].collect().toSet
    assert(g == Set(("a", 2L, 7L), ("c", 3L, 1L)))
  }

  test("embedding near-dup pairs respect blocks and threshold") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),  // ~0.994 cosine with 1
      (3L, Array(0.0f, 1.0f), 0),  // orthogonal to 1
      (4L, Array(1.0f, 0.0f), 1)   // identical to 1 but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9, Some("label"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("zero vectors neither drop nor are dropped (NaN cosine exclusion, round-11)") {
    // Spark's total-order comparison makes NaN >= tau TRUE, so an
    // unguarded zero vector was a near-dup of its entire block
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f), 0),  // zero vector, same block
      (3L, Array(0.9f, 0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9, Some("label"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)), pairs.toString)
  }

  test("NaN-component vectors neither drop nor are dropped (round-12)") {
    // same class as the zero vector, re-opened for NaN components: the
    // NaN norm passes `> 0.0` (NaN-greatest) and its NaN cosine passes
    // every `>= tau` — the corrupt row flagged its whole block
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(Float.NaN, 1.0f), 0), // NaN component, same block
      (3L, Array(0.9f, 0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9, Some("label"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)), pairs.toString)
  }

  test("Inf-component vectors neither drop nor are dropped (round-13)") {
    // third member of the class: an Inf component gives an Inf norm
    // (passes a zero/NaN-only gate) and a NaN cosine (Inf/Inf) that
    // NaN-greatest ordering ranks past every threshold — with the
    // smallest id in its cell it silently dropped the whole cell
    val e = Seq(
      (0L, Array(Float.PositiveInfinity, 1.0f), 0), // smallest id, Inf
      (1L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.9f, 0.1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9, Some("label"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)), pairs.toString)
  }

  test("semDedup: cell-local keep-lowest-id policy; cross-cell twins both survive") {
    // two hand-placed centroids; vectors 1,2 near-dup in cell 0, vector 5
    // is an exact twin of 1 but lands in cell 1 — cells block the
    // comparison, so both twins are kept (the recall trade the operator
    // documents), while the in-cell near-dup drops its larger id.
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),   // cell 0, ~0.994 cosine with 1 → dropped
      (3L, Array(0.6f, 0.4f)),   // cell 0, cos ~0.83 with 1 → kept at tau=0.9
      (4L, Array(0.0f, 1.0f)),   // cell 1, alone
      (5L, Array(0.1f, 0.9f))    // cell 1, near-dup of 4 → dropped
    ).toDF("vec_id", "embedding")
    val r = Dedup.semDedup(e, "vec_id", "embedding", cents, tau = 0.9)
      .as[(Long, Int, Boolean)].collect()
      .map { case (id, c, drop) => id -> ((c, drop)) }.toMap
    assert(r(1L) == ((0, false)) && r(2L) == ((0, true)))
    assert(r(3L) == ((0, false)))
    assert(r(4L) == ((1, false)) && r(5L) == ((1, true)))
  }

  test("semDedupScaled: flat branch equals semDedup with the same trainer; hierarchical branch matches a driver recompute (round-16)") {
    // 3 well-separated clusters, deterministic jitter (the IvfSpec shape)
    var s = 7L
    def rnd(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val centers = Array(
      Array.fill(8)(0.0f), Array.fill(8)(5.0f), Array.fill(8)(-5.0f))
    val e = (0 until 210).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rnd().toFloat * 0.8f))
    }.toDF("vec_id", "embedding")
    val K = 9
    val TAU = 0.97

    // below the threshold: byte-identical to training flat + semDedup
    val flat = Dedup.semDedup(e, "vec_id", "embedding",
      Similarity.trainKmeansCentroids(e, "embedding", K, idCol = Some("vec_id")),
      TAU).collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    val viaSwitch = Dedup.semDedupScaled(e, "vec_id", "embedding", K, TAU,
        flatMaxK = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(viaSwitch == flat)

    // above the threshold (forced with flatMaxK=0): one row per input,
    // and the drop policy over ITS cells matches a driver-side
    // recompute — dropped iff a smaller-id same-cell member is tau-close
    val hier = Dedup.semDedupScaled(e, "vec_id", "embedding", K, TAU,
        flatMaxK = 0)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getBoolean(2)))
    assert(hier.length == 210)
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / math.sqrt(na) / math.sqrt(nb)
    }
    val byCell = hier.filter(_._2.isDefined).groupBy(_._2.get)
    hier.foreach { case (id, cellOpt, dropped) =>
      val expect = cellOpt.exists { c =>
        byCell(c).exists { case (oid, _, _) =>
          oid < id && cos(vecs(oid), vecs(id)) >= TAU
        }
      }
      assert(dropped == expect, s"vec $id cell $cellOpt: $dropped vs $expect")
    }
    assert(hier.exists(_._3), "no drops fired — tau vacuous for the fixture")
    // the switch genuinely went hierarchical: >1 coarse cell behind the
    // global ids means cells exceed the flat trainer's reach only if
    // distinct cells appear — weak but cheap sanity
    assert(byCell.size > 1)

    // THIRD tier (round-18): forced deep branch (deepMinK at the
    // threshold) = semDedupAssigned over the 3-level assignment — the
    // same drop-policy recompute, cells from the depth-3 assign
    val deep = Dedup.semDedupScaled(e, "vec_id", "embedding", K, TAU,
        flatMaxK = 0, deepMinK = K)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getBoolean(2)))
    assert(deep.length == 210)
    val deepByCell = deep.filter(_._2.isDefined).groupBy(_._2.get)
    deep.foreach { case (id, cellOpt, dropped) =>
      val expect = cellOpt.exists { c =>
        deepByCell(c).exists { case (oid, _, _) =>
          oid < id && cos(vecs(oid), vecs(id)) >= TAU
        }
      }
      assert(dropped == expect, s"deep vec $id cell $cellOpt: $dropped vs $expect")
    }
    assert(deep.exists(_._3), "deep branch: no drops fired")
    // a mis-ordered threshold pair fails loudly, not as a silent flat run
    val err = intercept[IllegalArgumentException] {
      Dedup.semDedupScaled(e, "vec_id", "embedding", K, TAU,
        flatMaxK = 100, deepMinK = 50)
    }
    assert(err.getMessage.contains("deepMinK"))
  }

  test("full-corpus Lloyd training is drop-in for semDedup; recall and balance vs sampled") {
    // synthetic clustered corpus: 8 well-separated direction-clusters in
    // 8 dims, 40 points each, plus one tau-close near-dup planted per
    // cluster (seeded → deterministic)
    val rnd = new scala.util.Random(7L)
    val dims = 8
    val base = (0 until 8).map { c =>
      Array.tabulate(dims)(d => if (d == c) 10.0f else 0.0f)
    }
    val rows = Seq.newBuilder[(Long, Array[Float])]
    var id = 0L
    val planted = Seq.newBuilder[(Long, Long)]
    for (c <- 0 until 8) {
      for (_ <- 0 until 40) {
        rows += ((id, base(c).map(v => v + rnd.nextFloat() * 0.5f)))
        id += 1
      }
      // near-dup pair: two tiny perturbations of the same point
      val p = base(c).map(v => v + rnd.nextFloat() * 0.5f)
      rows += ((id, p.map(_ + 1e-3f)))
      rows += ((id + 1, p.map(_ - 1e-3f)))
      planted += ((id, id + 1))
      id += 2
    }
    val embs = rows.result().toDF("vec_id", "embedding")
    val truthPairs = planted.result().toSet

    val sampled = Similarity.trainKmeansCentroids(embs, "embedding", k = 8,
      iters = 10, sampleMax = 8) // degenerate sample: misses clusters
    val full = Similarity.trainKmeansCentroidsFull(embs, "embedding", k = 8,
      iters = 10)
    def recallAndMaxCell(cents: Array[Array[Double]]): (Double, Long) = {
      val r = Dedup.semDedup(embs, "vec_id", "embedding", cents, tau = 0.999)
      val dropped = r.filter($"dropped").select("vec_id").as[Long].collect().toSet
      // a planted pair is recalled iff its larger id was dropped
      val recall = truthPairs.count { case (_, b) => dropped.contains(b) }
        .toDouble / truthPairs.size
      val maxCell = r.groupBy("cell").count()
        .agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
      (recall, maxCell)
    }
    val (recallSampled, maxCellSampled) = recallAndMaxCell(sampled)
    val (recallFull, maxCellFull) = recallAndMaxCell(full)
    // recall: tight pairs co-assign under any deterministic cells, so
    // both trainers find every planted pair — the sampled default is
    // safe on recall grounds (the scaladoc's documented guidance)
    assert(recallFull == 1.0, s"full-training recall $recallFull")
    assert(recallFull >= recallSampled)
    // balance: the 8-point sample cannot cover 8 clusters, so some cells
    // merge (> 1 cluster ≈ > 60 members); full training separates all 8
    assert(maxCellFull <= 42 + 2, s"full-training max cell $maxCellFull")
    assert(maxCellFull < maxCellSampled,
      s"full $maxCellFull vs sampled $maxCellSampled — fixture no longer " +
        "forces sample-blind clusters; tighten sampleMax")
  }

  test("LSH pairs are a subset of exact pairs with identical jaccard; planted dups recalled") {
    // property differential (round 10): LSH verifies candidates with the
    // SAME exact jaccard the inverted-index path computes, so
    // minhashLshPairs ⊆ ngramJaccardPairs must hold EXACTLY (precision
    // is exact; only recall is probabilistic). With 4 bands of 2 rows a
    // planted ~0.95-jaccard twin misses with probability < 1e-5, and the
    // minhash seeds are fixed, so the recall assertion is deterministic.
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(seed * 69621L)
      val vocab = (0 until 80).map(i => s"w${i}x${rnd.nextInt(100)}")
      var id = 0L
      val rows = Seq.newBuilder[(Long, String)]
      val planted = Seq.newBuilder[(Long, Long)]
      for (_ <- 0 until 12) {
        val words = (0 until 15 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(vocab.length)))
        rows += ((id, words.mkString(" ")))
        if (rnd.nextInt(2) == 0) {
          // near-dup twin: same doc with the last word changed
          rows += ((id + 1, (words.init :+ "changed").mkString(" ")))
          planted += ((id, id + 1))
          id += 1
        }
        id += 1
      }
      val df = rows.result().toDF("doc_id", "text")
      def pairSet(p: org.apache.spark.sql.DataFrame) =
        p.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
          .collect().map { case (a, b, j) => (a, b) -> j }.toMap
      val lsh = pairSet(Dedup.minhashLshPairs(df, "doc_id", "text", minJaccard = 0.5))
      val exact = pairSet(Dedup.ngramJaccardPairs(df, "doc_id", "text", minJaccard = 0.5))
      lsh.foreach { case (pair, j) =>
        assert(exact.contains(pair), s"seed $seed: LSH pair $pair not in exact set")
        assert(exact(pair) == j, s"seed $seed: jaccard differs on $pair")
      }
      planted.result().foreach { pair =>
        assert(lsh.contains(pair), s"seed $seed: planted near-dup $pair missed by LSH")
      }
    }
  }

  test("pair operators leave no cache entries behind (explicit lifecycle)") {
    spark.catalog.clearCache()
    Dedup.minhashLshPairs(docs, "doc_id", "text").count()
    Dedup.simhashPairs(docs, "doc_id", "text").count()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text").count()
    // a misspelled id column fails before the sketch is pinned: the
    // failed calls start no Spark job and leave no cache entry
    val (_, jobs, _) = sparkWork(Seq[String => Any](
      Dedup.minhashLshPairs(docs, _, "text"),
      Dedup.simhashPairs(docs, _, "text"),
      Dedup.ngramJaccardPairs(docs, _, "text")).foreach { pairs =>
      intercept[org.apache.spark.sql.AnalysisException](pairs("doc_idd"))
    })
    assert(jobs == 0, s"the failing pair calls started $jobs Spark jobs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedup pair operators must unpersist their sketch frames")
  }

  test("materialized pairs survive multiple actions without recompute races") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
    // count + collect + a join-back: all must read the checkpointed pairs
    assert(pairs.count() == pairs.collect().length)
    val d = docs.select($"doc_id".as("did"))
    assert(pairs.join(d, pairs("id_a") === d("did")).count() == pairs.count())
  }

  test("minhash cap: losses confined to over-cap near-dup families; small buckets keep exact recall (round-17)") {
    // the q106-verified loss shape, planted: a FAMILY of 6 near-identical
    // docs (one shared long prefix, distinct tails) concentrates ≥ 4
    // members in every band bucket its pairs share — past cap=3, the
    // whole family's pairs drop together and no other band recovers
    // them. An isolated near-dup pair sits in buckets of 2 and must
    // survive the cap untouched: the cap's recall price is families
    // larger than the cap, never unrelated small-bucket pairs.
    val family = (0 until 6).map(i => (10L + i, base + s" familytail$i end$i"))
    val second = "a second unrelated narrative describing catalyst optimizer " +
      "internals where logical plans become physical operators through " +
      "strategies and rules while adaptive execution reshapes partitions " +
      "at runtime based on observed statistics from completed stages"
    val isolated = Seq((50L, second), (51L, mutate(second, 7)))
    val filler = Seq(
      (90L, "completely different content about harbors ships tides and gulls circling above the quay at dawn"),
      (91L, "another standalone document on alpine meadows snow lines and the slow patience of glaciers moving"))
    val all = (family ++ isolated ++ filler).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unc = pairSet(Dedup.minhashLshPairs(all, "doc_id", "text"))
    val cap = pairSet(Dedup.minhashLshPairs(all, "doc_id", "text",
      maxBucket = Some(3)))
    val famIds = (10L until 16L).toSet
    val famPairs = for (a <- famIds; b <- famIds if a < b) yield (a, b)
    assert(famPairs.subsetOf(unc), s"uncapped must find the family: $unc")
    assert(unc.contains((50L, 51L)))
    assert(cap.subsetOf(unc), "capped candidates are a subset by construction")
    assert(cap.contains((50L, 51L)), "small-bucket pair must survive the cap")
    val lost = unc -- cap
    assert(lost.nonEmpty, "cap=3 must bite on the 6-member family")
    assert(lost.forall { case (a, b) => famIds(a) && famIds(b) },
      s"losses must be confined to the planted family: $lost")
    // the profile diagnostic sees the family as hot mass
    val p = Dedup.lshBucketProfile(all, "doc_id", "text")
    assert(p.maxBucket >= 4, p)
  }

  test("hot-bucket cap bounds candidate fan-out (with documented recall loss)") {
    // 30 docs sharing one boilerplate sentence + a distinct tail: every
    // doc lands in the same shingle buckets for the boilerplate part
    val boiler = (0 until 30).map { i =>
      (i.toLong, s"shared legal disclaimer text repeated verbatim everywhere unique$i tail$i marker$i")
    }.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", shingleK = 3,
      minJaccard = 0.1, maxBucket = Some(5))
    val uncapped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", shingleK = 3,
      minJaccard = 0.1)
    // the shared-shingle buckets (30 docs each) are dropped: candidates
    // collapse; uncapped finds the full near-dup clique
    assert(uncapped.count() > 0)
    assert(capped.count() < uncapped.count())
  }
}
