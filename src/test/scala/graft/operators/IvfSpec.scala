package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF codebook at depth 2 and 3: training determinism, assignment
  * and probe exactness against a driver-side recompute, the
  * incremental-upsert identity q102's oracle relies on, corrupt-input
  * NULL contracts, durable save/load (including older state dirs), the
  * tier switch, and the drift trigger.
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  /** 3 well-separated clusters in 8 dims, deterministic LCG jitter. */
  private def corpus(n: Int, seed: Long = 7L): DataFrame = {
    var s = seed
    def rnd(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val centers = Array(
      Array.fill(8)(0.0f), Array.fill(8)(5.0f), Array.fill(8)(-5.0f))
    (0 until n).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rnd().toFloat * 0.8f))
    }.toDF("vec_id", "embedding")
  }

  /** k = 9 at depth 2 (3 × 3), k = 27 at depth 3 (3 × 3 × 3). */
  private def cb(df: DataFrame, depth: Int = 2): Ivf.Codebook =
    Ivf.train(df, "embedding", "vec_id", k = if (depth == 2) 9 else 27,
      depth, itersCoarse = 3, itersLevel = 2, perCellSampleMax = 64)

  /** Every codebook property below holds at both depths. */
  private val depths = Seq(2, 3)

  private def withCb[T](df: DataFrame, depth: Int)(f: Ivf.Codebook => T): T = {
    val book = cb(df, depth)
    try f(book) finally book.release()
  }

  private def sqd(c: Seq[Long], xq: Array[Long]): Long =
    c.toArray.zip(xq).map { case (a, b) => val t = a - b; t * t }.sum

  private def cells(a: DataFrame): Map[Long, Option[Int]] =
    a.select($"vec_id", $"cell").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap

  test("assignment equals a driver-side argmin over the coarse cell's candidates") {
    val df = corpus(240)
    val book = cb(df)
    val fine = Ivf.collectLevel(book.fine)
    val byCoarse = fine.groupBy(_._1)
    val rows = Ivf.assign(
        df.withColumn("__coarse",
          Similarity.cellAssign($"embedding", book.coarse)),
        "embedding", book)
      .select($"vec_id", $"__coarse", $"cell",
        KMeans.quantize($"embedding").as("xq"))
      .collect()
    assert(rows.length == 240)
    rows.foreach { r =>
      val coarse = r.getInt(1)
      val xq = r.getSeq[Long](3).toArray
      val cands = byCoarse(coarse)
      val best = cands.map { case (_, cell, c) =>
        (sqd(c, xq), cell)
      }.min // (distance, cell) lexicographic — the kernel's tie-break
      assert(!r.isNullAt(2) && r.getInt(2) == best._2,
        s"vec ${r.getLong(0)}: kernel ${r.get(2)} vs recompute ${best._2}")
    }
    // the codebook really is two-level: >1 coarse cell, fine ids spread
    assert(book.depth == 2 && byCoarse.size > 1)
    assert(fine.map(_._2).distinct.size > byCoarse.size)
  }

  test("incremental upsert identity: assign(base) ∪ assign(delta) == assign(base ∪ delta)") {
    val df = corpus(210)
    val base = df.filter($"vec_id" % 7 =!= 0)
    val delta = df.filter($"vec_id" % 7 === 0)
    // frozen pre-delta, the q102 posture; fixed-codebook assignment is
    // a pure per-row function at every level
    for (depth <- depths) withCb(base, depth) { book =>
      def m(d: DataFrame): Map[Long, Int] =
        Ivf.assign(d, "embedding", book).select($"vec_id", $"cell")
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val incremental = m(base) ++ m(delta)
      assert(incremental == m(df), s"depth $depth")
      assert(incremental.size == 210)
    }
  }

  /** Two trainings over differently partitioned inputs give identical
    * levels.
    */
  private def assertPartitioningIndependent(df: DataFrame, depth: Int): Unit = {
    val a = cb(df.repartition(1), depth)
    val b = cb(df.repartition(13, $"vec_id"), depth)
    try {
      assert(a.levels.size == depth - 1 && b.levels.size == depth - 1)
      a.levels.zip(b.levels).foreach { case (la, lb) =>
        assert(Ivf.collectLevel(la) == Ivf.collectLevel(lb), s"depth $depth")
      }
    } finally { a.release(); b.release() }
  }

  /** A vector whose length differs from the codebook dims gets a NULL cell. */
  private def assertRaggedNull(book: Ivf.Codebook): Unit = {
    val ragged = Seq((999L, Array.fill(5)(1.0f))).toDF("vec_id", "embedding")
    val r = Ivf.assign(ragged, "embedding", book).select($"cell").collect()
    assert(r.length == 1 && r(0).isNullAt(0), s"depth ${book.depth}")
  }

  test("training is partitioning-independent (the determinism contract)") {
    assertPartitioningIndependent(corpus(180), depth = 2)
  }

  test("three-level training is partitioning-independent; corrupt rows get NULL (round-18)") {
    val df = corpus(180)
    assertPartitioningIndependent(df, depth = 3)
    withCb(df, 3)(assertRaggedNull)
  }

  test("corrupt inputs get NULL cells, never a plausible bin") {
    withCb(corpus(60), 2)(assertRaggedNull)
    // kernel-level: a candidate list with a ragged centroid nulls the row
    val bad = Seq((Array(1L, 2L), Seq((0, Seq(1L, 2L)), (1, Seq(1L)))))
      .toDF("xq", "cands")
    val k = bad.select(Ivf.nearestCandidate($"xq", $"cands")).collect()
    assert(k(0).isNullAt(0))
    // and an empty candidate list
    val empty = Seq((Array(1L, 2L), Seq.empty[(Int, Seq[Long])]))
      .toDF("xq", "cands")
    assert(empty.select(Ivf.nearestCandidate($"xq", $"cands"))
      .collect()(0).isNullAt(0))
  }

  test("three-level assignment equals a driver-side two-step argmin (round-18)") {
    val df = corpus(240)
    withCb(df, 3) { book =>
      val Seq(mid, fine) = book.levels.map(Ivf.collectLevel)
      val byTop = mid.groupBy(_._1)
      val byMid = fine.groupBy(_._1)
      def argmin(cands: Seq[(Int, Int, Seq[Long])], xq: Array[Long]): Int =
        cands.map { case (_, cell, c) => (sqd(c, xq), cell) }
          .min._2 // (distance, cell) lexicographic — the kernel's tie-break
      val rows = Ivf.assign(
          df.withColumn("__top",
            Similarity.cellAssign($"embedding", book.coarse)),
          "embedding", book)
        .select($"vec_id", $"__top", $"cell",
          KMeans.quantize($"embedding").as("xq"))
        .collect()
      assert(rows.length == 240)
      rows.foreach { r =>
        val xq = r.getSeq[Long](3).toArray
        val want = argmin(byMid(argmin(byTop(r.getInt(1)), xq)), xq)
        assert(!r.isNullAt(2) && r.getInt(2) == want,
          s"vec ${r.getLong(0)}: kernel ${r.get(2)} vs recompute $want")
      }
      // genuinely three levels: >1 top cell, mids spread, fines spread
      assert(byTop.size > 1)
      assert(mid.map(_._2).distinct.size > byTop.size)
      assert(fine.map(_._2).distinct.size > mid.map(_._2).distinct.size)
    }
  }

  /** probeCells at `depth` equals a driver-side hop-by-hop recompute:
    * each hop keeps the n nearest of the probed parents' entries.
    */
  private def assertProbeRecompute(depth: Int): Unit = {
    val df = corpus(240)
    val queries = df.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val ragged = Seq((99L, Array.fill(5)(1.0f))).toDF("q_id", "q_vec")
    withCb(df, depth) { book =>
      val npc = math.min(2, book.coarse.length)
      // one count per level: 3 leaf cells, through 4 mids at depth 3
      val nProbe = npc +: (if (depth == 3) Seq(4, 3) else Seq(3))
      val got = Ivf.probeCells(queries, "q_id", "q_vec", book, nProbe)
        .select($"q_id", $"probes",
          Similarity.probeCells($"q_vec", book.coarse, npc).as("cps"),
          KMeans.quantize($"q_vec").as("xq"))
        .collect()
      assert(got.length == 20)
      val byParent = book.levels.map(l => Ivf.collectLevel(l).groupBy(_._1))
      def hop(parents: Seq[Int], lvl: Map[Int, Seq[(Int, Int, Seq[Long])]],
          xq: Array[Long], n: Int): Seq[Int] =
        parents.flatMap(p => lvl.getOrElse(p, Nil))
          .map { case (_, cell, cvec) => (sqd(cvec, xq), cell) }
          .sorted.take(n).map(_._2)
      got.foreach { r =>
        val xq = r.getSeq[Long](3).toArray
        val expected = byParent.zip(nProbe.tail)
          .foldLeft(r.getSeq[Int](2)) { case (ps, (lvl, n)) => hop(ps, lvl, xq, n) }
        assert(r.getSeq[Int](1) == expected,
          s"depth $depth q ${r.getLong(0)}: ${r.getSeq[Int](1)} vs $expected")
      }
      // a ragged query gets an empty probe list, not a crash or a bin
      val rp = Ivf.probeCells(ragged, "q_id", "q_vec", book, nProbe)
        .select($"probes").collect()
      assert(rp.length == 1 && rp(0).getSeq[Int](0).isEmpty, s"depth $depth")
    }
  }

  test("probeCells equals a driver-side recompute over the probed coarse cells' candidates") {
    assertProbeRecompute(depth = 2)
  }

  test("probeCells3 equals a driver-side two-hop recompute (round-18)") {
    assertProbeRecompute(depth = 3)
  }

  test("save/load round-trip: reloaded codebook assigns identically at both depths") {
    val df = corpus(180)
    for (depth <- depths) withCb(df, depth) { book =>
      val dir = java.nio.file.Files.createTempDirectory("ivfstate").toString
      Ivf.save(book, dir)
      val reloaded = Ivf.load(spark, dir)
      try {
        assert(reloaded.levels.size == book.levels.size, s"depth $depth")
        assert(reloaded.coarse.map(_.toSeq).toSeq == book.coarse.map(_.toSeq).toSeq)
        reloaded.levels.zip(book.levels).foreach { case (r, b) =>
          assert(Ivf.collectLevel(r) == Ivf.collectLevel(b), s"depth $depth")
        }
        assert(cells(Ivf.assign(df, "embedding", reloaded)) ==
          cells(Ivf.assign(df, "embedding", book)))
      } finally reloaded.release()
      assert(new java.io.File(s"$dir/coarse").exists,
        s"releasing a codebook loaded from an index dir must keep the dir (depth $depth)")
    }
  }

  test("durable states written with a meta/ stride dir reload identically at both depths") {
    // compaction states saved before the depth-generic codebook carry a
    // `meta` dir — one (fineK) row at depth 2, one (midK, fineK) row at
    // depth 3 — next to the levels; a resumed compaction must read them
    val df = corpus(180)
    for (depth <- depths) withCb(df, depth) { book =>
      val dir = java.nio.file.Files.createTempDirectory("ivfmeta").toString
      Ivf.save(book, dir)
      val meta = if (depth == 2) Seq(Tuple1(3)).toDF("fineK")
        else Seq((3, 3)).toDF("midK", "fineK")
      meta.repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
      val reloaded = Ivf.load(spark, dir)
      try {
        assert(reloaded.depth == depth)
        reloaded.levels.zip(book.levels).foreach { case (r, b) =>
          assert(Ivf.collectLevel(r) == Ivf.collectLevel(b), s"depth $depth")
        }
        assert(cells(Ivf.assign(df, "embedding", reloaded)) ==
          cells(Ivf.assign(df, "embedding", book)))
      } finally reloaded.release()
    }
  }

  test("tier switch: cellDepth picks flat/2/3 at the thresholds; load sniffs the saved depth") {
    assert(Dedup.cellDepth(Dedup.FlatMaxK) == 1)
    assert(Dedup.cellDepth(Dedup.FlatMaxK + 1) == 2)
    assert(Dedup.cellDepth(Ivf.DeepMinK - 1) == 2)
    assert(Dedup.cellDepth(Ivf.DeepMinK) == 3)
    intercept[IllegalArgumentException](Dedup.cellDepth(9, 10, 10))
    // below deepMinK: two levels; at it: three (the compaction's
    // no-flat call shape)
    val df = corpus(180)
    val shallow = Ivf.train(df, "embedding", "vec_id", k = 9,
      Dedup.cellDepth(9, flatMaxK = 0, deepMinK = 10))
    val deep = Ivf.train(df, "embedding", "vec_id", k = 9,
      Dedup.cellDepth(9, flatMaxK = 0, deepMinK = 9))
    try {
      assert(shallow.depth == 2 && deep.depth == 3)
      // load discriminates by the on-disk layout (mid level present);
      // a depth-2 save over a depth-3 state drops the stale mid level
      val d2 = java.nio.file.Files.createTempDirectory("ivfany2").toString
      val d3 = java.nio.file.Files.createTempDirectory("ivfany3").toString
      Ivf.save(deep, d2)
      Ivf.save(shallow, d2)
      Ivf.save(deep, d3)
      val r2 = Ivf.load(spark, d2)
      val r3 = Ivf.load(spark, d3)
      try {
        assert(r2.depth == 2 && r3.depth == 3)
        assert(cells(Ivf.assign(df, "embedding", r2)) ==
          cells(Ivf.assign(df, "embedding", shallow)))
        assert(cells(Ivf.assign(df, "embedding", r3)) ==
          cells(Ivf.assign(df, "embedding", deep)))
      } finally { r2.release(); r3.release() }
    } finally { shallow.release(); deep.release() }
  }

  test("depth and per-level nProbe contracts reject bad shapes loudly") {
    val df = corpus(90)
    for (depth <- Seq(1, 4)) {
      val e = intercept[IllegalArgumentException](
        Ivf.train(df, "embedding", "vec_id", k = 9, depth))
      assert(e.getMessage.contains("depth"), e.getMessage)
    }
    intercept[IllegalArgumentException](
      Ivf.Codebook(Array(Array(0.0)), Seq.empty))
    val queries = df.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    for (depth <- depths) withCb(df, depth) { book =>
      // one count per level, the coarse count within the coarse cells
      for (bad <- Seq(Seq.fill(depth + 1)(1), Seq.fill(depth - 1)(1),
          (book.coarse.length + 1) +: Seq.fill(depth - 1)(1),
          1 +: Seq.fill(depth - 1)(0))) {
        intercept[IllegalArgumentException](
          Ivf.probeCells(queries, "q_id", "q_vec", book, bad))
      }
    }
  }

  test("train and probeCells reject non-integral ids loudly (round-16)") {
    // the id contract was documented but unenforced: every consumer
    // keys ledgers/search by long, where a string id casts to all-NULL
    // silently — the compactNearDups reject class
    val df = corpus(90)
    val strIds = df.select(concat(lit("d"), $"vec_id").as("vec_id"),
      $"embedding")
    val e1 = intercept[IllegalArgumentException](cb(strIds))
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    val book = cb(df)
    val strQ = df.filter($"vec_id" < 5)
      .select(concat(lit("q"), $"vec_id").as("q_id"), $"embedding")
    val e2 = intercept[IllegalArgumentException] {
      Ivf.probeCells(strQ, "q_id", "embedding", book, Seq(1, 3))
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
  }

  test("probeCells duplicate query ids: both rows get the union-merged probe list (the documented contract)") {
    // row-uniqueness is the caller's contract — this pins what happens
    // when it's broken so the behavior is DEFINED, not accidental: the
    // id-keyed regroup unions the duplicates' scored candidates and
    // every duplicate row receives that one merged list
    val df = corpus(240)
    val book = cb(df)
    val npc = math.min(2, book.coarse.length)
    // two rows sharing id 7: one from each far-apart cluster
    val a = df.filter($"vec_id" === 0L).select(lit(7L).as("q_id"),
      $"embedding")
    val b = df.filter($"vec_id" === 1L).select(lit(7L).as("q_id"),
      $"embedding")
    val dup = a.unionByName(b)
    val got = Ivf.probeCells(dup, "q_id", "embedding", book, Seq(npc, 3))
      .select($"probes").collect()
    assert(got.length == 2, "each duplicate row rides back through the join")
    assert(got(0).getSeq[Int](0) == got(1).getSeq[Int](0),
      "duplicates share one merged probe list")
    // the merged list is the global top-3 over BOTH rows' scored
    // candidates — recompute it driver-side
    val byCoarse = Ivf.collectLevel(book.fine).groupBy(_._1)
    val merged = dup.select($"embedding",
        Similarity.probeCells($"embedding", book.coarse, npc).as("cps"),
        KMeans.quantize($"embedding").as("xq")).collect()
      .flatMap { r =>
        val xq = r.getSeq[Long](2).toArray
        r.getSeq[Int](1).flatMap(c => byCoarse.getOrElse(c, Nil))
          .map { case (_, cell, cvec) =>
            (cvec.toArray.zip(xq).map { case (x, y) =>
              val t = x - y; t * t }.sum, cell)
          }
      }.sorted.take(3).map(_._2).toSeq
    assert(got(0).getSeq[Int](0) == merged, s"${got(0).getSeq[Int](0)} vs $merged")
  }

  test("driftFraction: in-distribution delta ~0, shifted delta ~1, ragged delta counts far") {
    val df = corpus(240)
    val book = cb(df)
    val typical = Ivf.typicalCoarseD2(df, "embedding", "vec_id", book)
    val inDist = corpus(60, seed = 99L)
    assert(Ivf.driftFraction(inDist, "embedding", book, typical,
      tolerance = 4.0) < 0.2)
    val shifted = inDist.select($"vec_id",
      transform($"embedding", x => x + lit(40.0f)).as("embedding"))
    assert(Ivf.driftFraction(shifted, "embedding", book, typical,
      tolerance = 4.0) > 0.8)
    // an embedder regression changing dims IS drift: ragged rows can
    // never assign under the frozen codebook — they must count FAR,
    // not null out of the numerator (round-15 review)
    val ragged = inDist.select($"vec_id",
      slice($"embedding", 1, 5).as("embedding"))
    assert(Ivf.driftFraction(ragged, "embedding", book, typical,
      tolerance = 4.0) == 1.0)
  }
}
