package graft.jobs

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** End-to-end corpus-prep job: attrition ledger shape, canonical
  * selection through both dedup stages, and second-run stability.
  */
class CorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("run composes gate + exact dedup + near-dup; ledger monotone; canonical = min id") {
    val all = Tables.documents(spark, d).select($"doc_id", $"text")
    // two gate-surviving ids to duplicate (so the injected copies can
    // only be removed by a DEDUP stage, never the quality/lang gate)
    val survivors = CorpusPrep
      .gate(CorpusPrep.annotate(all, "text"), CorpusPrep.Config())
      .orderBy($"doc_id").limit(2).select($"doc_id").as[Long].collect()
    val Array(exactSrc, nearSrc) = survivors

    val exactDup = all.filter($"doc_id" === exactSrc)
      .select(lit(100000L).as("doc_id"), $"text")
    val nearDup = all.filter($"doc_id" === nearSrc)
      .select(lit(100001L).as("doc_id"),
        concat($"text", lit(" trailing tail word")).as("text"))
    val input = all.unionByName(exactDup).unionByName(nearDup)

    val out = CorpusPrep.run(input, "doc_id", "text")
    val stats = out.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("input") == all.count() + 2)
    // each stage only removes rows
    val order = Seq("input", "quality_lang_gate", "exact_dedup", "near_dup")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(stats(a) >= stats(b), s"$a=${stats(a)} < $b=${stats(b)}")
    }
    assert(out.annotated.columns.toSet
      .intersect(Set("lang", "quality", "tokens")).size == 3)

    val kept = out.kept.select($"doc_id").as[Long].collect().toSet
    // identical text, higher id → removed by exact dedup; canonical stays
    assert(!kept.contains(100000L) && kept.contains(exactSrc))
    // one appended shingle → caught by LSH near-dup, cluster min wins
    assert(!kept.contains(100001L) && kept.contains(nearSrc))

    // a prepped corpus is a fixed point: re-running drops nothing
    val again = CorpusPrep.run(out.kept, "doc_id", "text")
    val s2 = again.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2("input") == s2("near_dup"), s"second run dropped rows: $s2")
  }

  test("maxLshBucket plumbs the hot-bucket cap into the near-dup stage (round-16)") {
    // plumbing check with the extreme cap: c=1 drops every band bucket
    // holding both members of any pair, so NO near-dup candidates
    // survive — the injected near-dup that the uncapped run removes
    // must be KEPT under the cap. (The cap's semantics themselves are
    // pinned in DedupSpec and oracle-checked by q105; this guards the
    // config wire from silently disconnecting.)
    val all = Tables.documents(spark, d).select($"doc_id", $"text")
    val src = CorpusPrep
      .gate(CorpusPrep.annotate(all, "text"), CorpusPrep.Config())
      .orderBy($"doc_id").limit(1).select($"doc_id").as[Long].collect().head
    // PREPENDED words: the leading-8-words exact key differs (the
    // exact stage must NOT catch this one) while the shingle overlap
    // stays high enough for LSH
    val nearDup = all.filter($"doc_id" === src)
      .select(lit(200001L).as("doc_id"),
        concat(lit("zebra quill prefix "), $"text").as("text"))
    val input = all.unionByName(nearDup)
    val uncapped = CorpusPrep.run(input, "doc_id", "text")
    val capped = CorpusPrep.run(input, "doc_id", "text",
      CorpusPrep.Config(maxLshBucket = Some(1)))
    try {
      val ku = uncapped.kept.select($"doc_id").as[Long].collect().toSet
      val kc = capped.kept.select($"doc_id").as[Long].collect().toSet
      assert(!ku.contains(200001L), "uncapped run must drop the near-dup")
      assert(kc.contains(200001L) && kc.contains(src),
        "cap=1 kills every candidate bucket, so the near-dup survives")
    } finally { uncapped.release(); capped.release() }
  }

  test("ledger surfaces hot-bucket mass; profile counts candidates exactly (round-17)") {
    import graft.operators.Dedup
    // planted hot buckets: identical texts share EVERY band key, so a
    // group of m copies makes 4 buckets of mass m — max bucket and the
    // exact candidate volume Σ m·(m−1)/2 are known in closed form
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten eleven"
    val docs = (
      (0 until 4).map(i => (i.toLong, textA)) ++
      (10 until 13).map(i => (i.toLong, textB)) ++
      Seq((20L, "lonely unique document with entirely different words here okay"))
    ).toDF("doc_id", "text")
    val p = Dedup.lshBucketProfile(docs, "doc_id", "text")
    assert(p.maxBucket == 4, p)
    // 4 bands × (4·3/2 for the A-group + 3·2/2 for the B-group)
    assert(p.candidatePairs == 4 * (6 + 3), p)

    // run()'s ledger carries the same numbers, measured over the
    // EXACT-DEDUPED set the near-dup stage actually processes (the
    // planted identical copies collapse there, so the ledger's rows
    // describe what LSH sees, not the raw input)
    val all = Tables.documents(spark, d).select($"doc_id", $"text")
    val out = CorpusPrep.run(all, "doc_id", "text")
    val stats = out.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.release()
    val cfg = CorpusPrep.Config()
    val exact = CorpusPrep.exactCanonical(
      CorpusPrep.gate(CorpusPrep.annotate(all, "text", cfg), cfg),
      "doc_id", "text", cfg)
    val expected = Dedup.lshBucketProfile(exact, "doc_id", "text", cfg.shingleK)
    assert(stats("lsh_max_bucket") == expected.maxBucket, stats)
    assert(stats("lsh_candidate_pairs") == expected.candidatePairs, stats)
    assert(stats("lsh_max_bucket") >= 1 && stats("lsh_candidate_pairs") >= 0)

    // the advisory fires on the quadratic signature (uncapped + mass
    // past the measured threshold), stays silent when capped or calm
    import graft.operators.Dedup.LshBucketProfile
    val hot = LshBucketProfile(buckets = 100, maxBucket = 400,
      candidatePairs = 2000)
    assert(CorpusPrep.capAdvice(hot, nDocs = 100, CorpusPrep.Config())
      .exists(_.contains("maxLshBucket")))
    assert(CorpusPrep.capAdvice(hot, nDocs = 100,
      CorpusPrep.Config(maxLshBucket = Some(3))).isEmpty,
      "a capped config needs no advice")
    val calm = LshBucketProfile(buckets = 100, maxBucket = 3,
      candidatePairs = 300)
    assert(CorpusPrep.capAdvice(calm, nDocs = 100, CorpusPrep.Config()).isEmpty,
      "sub-threshold mass must not nag")
  }

  test("low-entropy gate drops repetitive docs only when enabled") {
    // passes quality (stopword-rich) and language (en lexicon), but
    // deflates to almost nothing
    val rep = Seq((999999L, ("the a fast slow value " * 48).trim))
      .toDF("doc_id", "text")
    val lowEntropy = CorpusPrep.Config(minCompressionRatio = 0.1)
    val ann = CorpusPrep.annotate(rep, "text", lowEntropy)
    // default config: no compression column (the deflate pass is paid only when gated)
    assert(!CorpusPrep.annotate(rep, "text").columns.contains("compression"))
    assert(ann.columns.contains("compression"))
    assert(CorpusPrep.gate(ann, lowEntropy).isEmpty)
    assert(CorpusPrep.gate(ann, CorpusPrep.Config()).count() == 1)
    // mismatched configs (annotate gate-off, gate gate-on) fail with
    // intent, not an UNRESOLVED_COLUMN analysis error
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.gate(CorpusPrep.annotate(rep, "text"), lowEntropy)
    }
    assert(e.getMessage.contains("compression"))
  }

  /** English-lexicon prose: pseudo-words of 4-8 letters (no lexicon
    * word of any language) with "the"/"a" every seventh word, so it
    * clears the quality and language gates.
    */
  private def prose(r: scala.util.Random, words: Int): String = {
    def word() = (0 until 2 + r.nextInt(3))
      .map(_ => s"${"bcdfghjkmprstvz"(r.nextInt(15))}${"aeiou"(r.nextInt(5))}").mkString
    (0 until words).map(k =>
      if (k % 7 == 3) (if (r.nextBoolean()) "the" else "a") else word()).mkString(" ")
  }

  /** Ledger fixture covering every way a row leaves a stage (ids below
    * 100 are the planted cases; 100+ are plain prose filler).
    */
  private lazy val ledgerFixture = {
    val r = new scala.util.Random(17)
    val key = "the quick vabo tiku a sefo ramu lodi"  // 8 leading words
    val dup = prose(r, 70)
    val near = prose(r, 70)
    val planted = Seq[(Long, String)](
      (1L, null),                                      // null text
      (2L, (0 until 60).map(i => s"qwertyzx$i").mkString(" ")), // und, quality ok
      (3L, "the xq"),                                  // quality below the gate
      (4L, ("the a fast slow value " * 48).trim),      // low entropy
      // content key whose smallest id fails the low-entropy gate: the
      // exact stage must keep 6, the smallest GATED id of the key
      (5L, key + " " + ("the a fast slow value " * 48).trim),
      (6L, key + " " + prose(r, 70)),
      (7L, key + " " + prose(r, 70)),
      (20L, dup), (21L, dup),                          // exact duplicates
      (30L, near), (31L, "zebra " + near))             // near duplicates
    val filler = (100L until 140L).map(i => (i, prose(r, 60 + r.nextInt(40))))
    // three input partitions and no shuffle, like a parquet scan
    spark.sparkContext.parallelize(planted ++ filler, 3).toDF("doc_id", "text")
  }

  test("run's ledger equals the stage-by-stage reference (null text, und, quality, low entropy, gated key minimum)") {
    val docs = ledgerFixture
    for (cfg <- Seq(CorpusPrep.Config(minCompressionRatio = 0.1), CorpusPrep.Config())) {
      val ann = CorpusPrep.annotate(docs, "text", cfg)
      val gated = CorpusPrep.gate(ann, cfg)
      val exact = CorpusPrep.exactCanonical(gated, "doc_id", "text", cfg)
      val near = CorpusPrep.nearDupCanonical(exact, "doc_id", "text", cfg)
      val profile = graft.operators.Dedup.lshBucketProfile(exact, "doc_id", "text", cfg.shingleK)
      val want = Map(
        "input" -> docs.count(),
        "quality_lang_gate" -> gated.count(),
        "exact_dedup" -> exact.count(),
        "near_dup" -> near.count(),
        "lsh_max_bucket" -> profile.maxBucket,
        "lsh_candidate_pairs" -> profile.candidatePairs)
      val out = CorpusPrep.run(docs, "doc_id", "text", cfg)
      try {
        val got = out.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == want, s"$cfg")
        assert(out.kept.select($"doc_id").as[Long].collect().toSet ==
          near.select($"doc_id").as[Long].collect().toSet, s"$cfg")
      } finally out.release()

      // the fixture really covers each case under this config
      val a = ann.select($"doc_id", $"lang", $"quality").as[(Long, String, Option[Double])]
        .collect().map(t => t._1 -> t).toMap
      val g = gated.select($"doc_id").as[Long].collect().toSet
      val e = exact.select($"doc_id").as[Long].collect().toSet
      val n = near.select($"doc_id").as[Long].collect().toSet
      assert(!g(1L), "null text is gated out")
      assert(a(2L)._2 == "und" && a(2L)._3.exists(_ >= cfg.minQuality) && !g(2L))
      assert(a(3L)._2 == "en" && a(3L)._3.exists(_ < cfg.minQuality) && !g(3L))
      assert(e(20L) && !e(21L) && e(30L) && e(31L) && n(30L) && !n(31L))
      if (cfg.minCompressionRatio > 0) {
        assert(!g(4L) && !g(5L), "low-entropy docs are gated out")
        assert(e(6L) && !e(7L), "the key's smallest GATED id is its keeper")
      } else assert(e(4L) && e(5L) && !e(6L) && !e(7L))
    }
  }

  test("run: at most 18 Spark jobs, and release() leaves no cache entry") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = ledgerFixture
    CorpusPrep.run(docs, "doc_id", "text").release() // warm the code paths
    spark.catalog.clearCache()
    // the listener bus delivers events in posting order: the jobs of the
    // run are exactly those between the two marker jobs
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(tag: String): Unit = {
      spark.sparkContext.setJobDescription(tag)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      marker("jobs-begin")
      val out = CorpusPrep.run(docs, "doc_id", "text")
      out.stats.collect()
      out.release()
      marker("jobs-end")
      while (!events.lastOption.contains("jobs-end")) {
        val ev = started.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(ev != null, s"listener saw no end marker; got $events")
        events += ev
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = events.dropWhile(_ != "jobs-begin").size - 2
    assert(jobs <= 18, s"CorpusPrep.run started $jobs Spark jobs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "run must leave only kept cached, and release() must drop it")
  }

  test("run: one text read per doc; capped pairs and an uncapped profile") {
    import org.apache.spark.sql.functions.udf
    // each text read is counted inside a NONDETERMINISTIC udf, which
    // Catalyst can neither duplicate nor collapse into several
    // projections: the run must pay one pass over the corpus
    val acc = spark.sparkContext.longAccumulator("textReads")
    val counted = udf { s: String => acc.add(1); s }.asNondeterministic()
    val docs = ledgerFixture
    def stats(f: CorpusPrep.Frames) =
      f.stats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val uncapped = CorpusPrep.run(docs.withColumn("text", counted($"text")), "doc_id", "text")
    val u = try stats(uncapped) finally uncapped.release()
    assert(acc.value == docs.count(), s"expected one text read per doc, got ${acc.value}")

    val cfg = CorpusPrep.Config(maxLshBucket = Some(1))
    val exact = CorpusPrep.exactCanonical(
      CorpusPrep.gate(CorpusPrep.annotate(docs, "text", cfg), cfg), "doc_id", "text", cfg)
    val capped = CorpusPrep.run(docs, "doc_id", "text", cfg)
    try {
      val kept = capped.kept.select($"doc_id").as[Long].collect().toSet
      // the near-dup stage drops what the capped pair operator pairs
      assert(kept == CorpusPrep.nearDupCanonical(exact, "doc_id", "text", cfg)
        .select($"doc_id").as[Long].collect().toSet)
      assert(kept(31L), "cap = 1 drops the near-dup pair's buckets")
      // the profile describes the UNCAPPED banding: its consumer sizes
      // the cap from it
      val c = stats(capped)
      assert(Seq("lsh_max_bucket", "lsh_candidate_pairs").forall(k => c(k) == u(k)), s"$c vs $u")
    } finally capped.release()
  }

  // --- incremental semantic compaction (round-15, verdict task 4) -----------

  /** 3 nonzero-centered clusters (within-cluster cosine ≈ 1, across ≈
    * ±0/−1) with deterministic jitter.
    */
  private def embCorpus(n: Int, seed: Long = 7L,
      offset: Float = 0.0f): org.apache.spark.sql.DataFrame = {
    var s = seed
    def rnd(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val centers = Array(
      Array.fill(8)(5.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f),
      Array.fill(8)(-5.0f))
    (0 until n).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + offset + rnd().toFloat * 0.3f))
    }.toDF("vec_id", "embedding")
  }

  test("compactNearDups: the incremental pass equals a full recompute with the frozen codebook") {
    import graft.operators.{Dedup, Ivf}
    val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val df = embCorpus(210)
    val base = df.filter($"vec_id" % 7 =!= 0)
    val TAU = 0.95

    val c1 = CorpusPrep.compactNearDups(base, "vec_id", "embedding", idx,
      tau = TAU, k = _ => 9)
    assert(c1.retrained && c1.version == 1)
    assert(c1.ledger.count() == base.count())

    // second pass sees base + delta: upsert, no retrain
    val c2 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = TAU, k = _ => 9)
    assert(!c2.retrained && c2.version == 2)

    // oracle: one full pass over everything with the SAME (frozen)
    // codebook — cells are independent under the drop policy, so the
    // incremental result must be row-identical
    val assigned = Ivf.assign(df, "embedding", c2.codebook)
    val dropped = Dedup.embeddingNearDupPairs(
        assigned.filter($"cell".isNotNull), "vec_id", "embedding",
        TAU, Some("cell"))
      .select($"id_b").distinct().as[Long].collect().toSet
    val expected = assigned.select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .map { case (id, cell) => (id, cell, dropped.contains(id)) }.toSet
    val got = c2.ledger.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getBoolean(2)))
      .toSet
    assert(got == expected)
    assert(got.exists(_._3), "no drops fired — the tau is vacuous")

    // idempotent replay: nothing new → previous version returned as-is
    val c3 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = TAU, k = _ => 9)
    assert(!c3.retrained && c3.version == 2)
    assert(c3.ledger.count() == c2.ledger.count())
    c2.codebook.release(); c3.codebook.release()
  }

  test("compactNearDups: in-distribution GROWTH triggers a retrain; baseline and meta carry forward until then") {
    // round-15 review: k is sized n/250 at training, so a corpus that
    // doubles through in-distribution deltas (drift never fires)
    // inflates cell populations quadratically in the pair stage unless
    // growth retrains
    val idx = java.nio.file.Files.createTempDirectory("ivfidx3").toString
    val df = embCorpus(300)
    val c1 = CorpusPrep.compactNearDups(df.filter($"vec_id" < 90),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9, growthFactor = 2.0)
    assert(c1.retrained && c1.version == 1)
    // +50%: under the growth factor, in-distribution → incremental,
    // and the frozen typical baseline is carried forward byte-for-byte
    val c2 = CorpusPrep.compactNearDups(df.filter($"vec_id" < 135),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9, growthFactor = 2.0)
    assert(!c2.retrained && c2.version == 2)
    def stateDir(v: Int): String = {
      val ds = new java.io.File(idx).listFiles().map(_.getName)
        .filter(_.matches(s"v$v(-[0-9a-f]+)?"))
      assert(ds.length == 1, s"state dirs for v$v: ${ds.mkString(",")}")
      s"$idx/${ds.head}"
    }
    val t1 = spark.read.parquet(s"${stateDir(1)}/typical").collect().toSet
    val t2 = spark.read.parquet(s"${stateDir(2)}/typical").collect().toSet
    assert(t1 == t2, "incremental pass must not recompute the drift baseline")
    // past 2× rows-at-training: retrain fires with zero drift
    val c3 = CorpusPrep.compactNearDups(df,
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9, growthFactor = 2.0)
    assert(c3.retrained && c3.version == 3)
    assert(c3.ledger.count() == 300)
    // superseded versions prune (keep version-1 for rollback)
    val names = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("v"))
    assert(!names.exists(_.matches("v1(-[0-9a-f]+)?")), s"v1 must prune: ${names.mkString(",")}")
    assert(names.exists(_.matches("v2(-[0-9a-f]+)?")))
    c1.release(); c2.release(); c3.release()
  }

  test("compactNearDups rejects non-integral ids and concurrent publication loudly") {
    val idx = java.nio.file.Files.createTempDirectory("ivfidx5").toString
    // string ids would cast("long") to an all-NULL ledger silently
    val strIds = embCorpus(30).select(concat(lit("d"), $"vec_id").as("vec_id"),
      $"embedding")
    val e1 = intercept[IllegalArgumentException] {
      CorpusPrep.compactNearDups(strIds, "vec_id", "embedding", idx,
        tau = 0.95, k = _ => 9)
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    // a corrupted LATEST marker must fail LOUDLY (name the corruption),
    // never silently rebuild over the existing state
    val df = embCorpus(90)
    val c1 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9)
    val latest = new java.io.File(idx, "LATEST")
    java.nio.file.Files.writeString(latest.toPath, "garbage name")
    // drop the checksum shadow or Hadoop's local FS fails the read
    // with ChecksumException before our parser sees the content
    val crc = new java.io.File(idx, ".LATEST.crc")
    if (crc.exists()) assert(crc.delete())
    val e2 = intercept[IllegalArgumentException] {
      CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
        tau = 0.95, k = _ => 9)
    }
    assert(e2.getMessage.contains("unrecognized index state name"),
      e2.getMessage)
    c1.release()
  }

  test("compactNearDups: a lost LATEST marker recovers from the _COMPLETE fallback") {
    // the publication window deletes LATEST before renaming the new
    // marker in — a crash inside it must NOT reset the index to v1
    val idx = java.nio.file.Files.createTempDirectory("ivfidx4").toString
    val df = embCorpus(120)
    val c1 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9)
    assert(c1.version == 1)
    assert(new java.io.File(s"$idx/LATEST").delete())
    val c2 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9)
    assert(!c2.retrained && c2.version == 1,
      "fallback must find the complete v1, not rebuild from scratch")
    c1.codebook.release(); c2.codebook.release()
  }

  test("compactNearDups: a fallback-recovered pass with a NONZERO delta publishes (no phantom concurrency wedge)") {
    // round-16 advice: the deltaN==0 fast path above never reaches
    // write(); a pass that recovers its base via the _COMPLETE fallback
    // and then has real work compared nowRaw=None against the
    // fallback-resolved NAME — every publishing pass after the crash
    // aborted forever with a misleading 'concurrent compaction'
    val idx = java.nio.file.Files.createTempDirectory("ivfidx6").toString
    val df = embCorpus(150)
    val c1 = CorpusPrep.compactNearDups(df.filter($"vec_id" < 120),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9)
    assert(c1.version == 1)
    // crash inside the delete→rename publication window: LATEST gone
    // (drop the checksum shadow too, like a real crash's torn state)
    assert(new java.io.File(s"$idx/LATEST").delete())
    val crc = new java.io.File(idx, ".LATEST.crc")
    if (crc.exists()) assert(crc.delete())
    val c2 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9)
    assert(!c2.retrained && c2.version == 2,
      "recovered pass must publish incrementally on the fallback base")
    assert(c2.ledger.count() == 150)
    // and the marker is re-materialized for the next pass
    val latest = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$idx/LATEST")).trim
    assert(latest.matches("v2(-[0-9a-f]+)?"), latest)
    c1.codebook.release(); c2.codebook.release()
  }

  test("compactNearDups: an overlapping invocation fails at the LOCK while the holder publishes (round-19)") {
    // r18 verdict task 3: the exclusive-create LOCK turns the overlap
    // the optimistic check used to catch at WRITE time into an
    // at-ENTRY failure — the racer cannot even load a base state, so
    // two passes can no longer both report success. Staged at the k
    // callback, which runs between the holder's lock acquisition and
    // its write — where a real overlapping invocation would land.
    val idx = java.nio.file.Files.createTempDirectory("ivfidx7").toString
    val df = embCorpus(90)
    var racerError: Option[IllegalStateException] = None
    val c = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = n => {
        if (racerError.isEmpty)
          racerError = Some(intercept[IllegalStateException] {
            CorpusPrep.compactNearDups(
              df.filter($"vec_id" < 60), "vec_id", "embedding", idx,
              tau = 0.95, k = _ => 9).release()
          })
        9
      })
    // the racer lost loudly AT ENTRY — and wrote nothing at all
    assert(racerError.exists(_.getMessage.contains("concurrent compaction")),
      racerError.map(_.getMessage).toString)
    assert(racerError.exists(_.getMessage.contains("lock")),
      racerError.map(_.getMessage).toString)
    // the holder published normally: one _COMPLETE v1 dir, its full ledger
    assert(c.version == 1 && c.ledger.count() == 90)
    val v1s = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.matches("v1(-[0-9a-f]+)?"))
    assert(v1s.length == 1, s"v1 dirs: ${v1s.mkString(",")}")
    assert(new java.io.File(s"$idx/${v1s.head}/_COMPLETE").exists())
    // the holder's finally released the lock: the next pass proceeds
    assert(!new java.io.File(s"$idx/LOCK").exists(), "lock must release")
    val c2 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9)
    assert(!c2.retrained && c2.version == 1)
    c.release(); c2.release()
  }

  test("compactNearDups: a crashed pass's stale lock is broken; a fresh one wedges the racer (round-19)") {
    val idx = java.nio.file.Files.createTempDirectory("ivfidx9").toString
    val df = embCorpus(90)
    // a "crashed" holder: lock file exists, no pass alive. Fresh lock
    // (age < lockStaleMs) → the next invocation must fail loudly...
    val lock = new java.io.File(idx, "LOCK")
    java.nio.file.Files.writeString(lock.toPath, "dead-pass-token")
    val e = intercept[IllegalStateException] {
      CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
        tau = 0.95, k = _ => 9)
    }
    assert(e.getMessage.contains("lock"), e.getMessage)
    // ...and a STALE lock (age > lockStaleMs) is broken: the pass runs
    assert(lock.setLastModified(System.currentTimeMillis() - 10000))
    val c = CorpusPrep.compactNearDupsImpl(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9, driftTolerance = 4.0,
      maxDriftFraction = 0.1, growthFactor = 2.0,
      deepMinK = 8000, lockStaleMs = 5000L,
      seams = CorpusPrep.PublishSeams())
    assert(c.retrained && c.version == 1)
    assert(!lock.exists(), "broken+reacquired lock must release on exit")
    c.release()
  }

  test("compactNearDups: the deep (three-level) tier engages at deepMinK and the incremental identity holds (round-19)") {
    import graft.operators.{Dedup, Ivf}
    // r18 verdict task 1: the durable path previously always trained
    // two-level; at k(n) >= deepMinK it must now build the THREE-level
    // codebook (forced here with a bench-scale threshold, the q104
    // force-the-branch precedent) and the q102-style identity —
    // incremental ≡ full recompute with the frozen codebook — must
    // hold over the deep assignment too.
    val idx = java.nio.file.Files.createTempDirectory("ivfidx10").toString
    val df = embCorpus(210)
    val base = df.filter($"vec_id" % 7 =!= 0)
    val TAU = 0.95
    val c1 = CorpusPrep.compactNearDups(base, "vec_id", "embedding", idx,
      tau = TAU, k = _ => 9, deepMinK = 9)
    assert(c1.retrained && c1.version == 1)
    assert(c1.codebook.depth == 3,
      s"k=9 >= deepMinK=9 must train three-level, got ${c1.codebook.depth}")
    c1.release()
    // incremental pass: load sniffs the saved depth; no retrain
    val c2 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = TAU, k = _ => 9, deepMinK = 9)
    assert(!c2.retrained && c2.version == 2)
    assert(c2.codebook.depth == 3,
      "incremental pass must keep the frozen deep codebook")
    val assigned = Ivf.assign(df, "embedding", c2.codebook)
    val dropped = Dedup.embeddingNearDupPairs(
        assigned.filter($"cell".isNotNull), "vec_id", "embedding",
        TAU, Some("cell"))
      .select($"id_b").distinct().as[Long].collect().toSet
    val expected = assigned.select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .map { case (id, cell) => (id, cell, dropped.contains(id)) }.toSet
    val got = c2.ledger.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), r.getBoolean(2)))
      .toSet
    assert(got == expected)
    assert(got.exists(_._3), "no drops fired — the tau is vacuous")
    c2.release()
  }

  test("compactNearDups: the publish-time optimistic check aborts and deletes the attempt dir when LATEST moves mid-pass (round-19)") {
    // the lock rework (r18 verdict task 3) retired the k-callback race
    // staging that used to drive this path, but the optimistic check is
    // still load-bearing — it is the documented backstop when a stale
    // break or a check-then-act filesystem re-admits an overlap. Stage
    // it directly: a STATEFUL readLatest seam shows the pass v1 at
    // base-state load and a different (racer-published) marker at the
    // write-time check.
    val idx = java.nio.file.Files.createTempDirectory("ivfidx11").toString
    val df = embCorpus(150)
    val c1 = CorpusPrep.compactNearDups(df.filter($"vec_id" < 120),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9)
    assert(c1.version == 1)
    val v1Name = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$idx/LATEST")).trim
    var calls = 0
    val e = intercept[IllegalStateException] {
      CorpusPrep.compactNearDupsImpl(df, "vec_id", "embedding", idx,
        tau = 0.95, k = _ => 9, driftTolerance = 4.0,
        maxDriftFraction = 0.1, growthFactor = 2.0,
        deepMinK = 8000, lockStaleMs = 3600000L,
        seams = CorpusPrep.PublishSeams(
          readLatest = Some(() => {
            calls += 1
            if (calls == 1) Some(v1Name) else Some("v9-deadbeef")
          })))
    }
    assert(e.getMessage.contains("concurrent compaction") &&
      e.getMessage.contains("LATEST moved"), e.getMessage)
    // the aborted attempt's v2 dir is gone (never _COMPLETE-marked,
    // deleted on abort) and the winner's v1 state is untouched
    val names = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("v"))
    assert(names.toSeq == Seq(v1Name), names.mkString(","))
    assert(!new java.io.File(s"$idx/LOCK").exists(),
      "the aborting pass must still release its lock")
    c1.release()
  }

  test("compactNearDups: a racer past the optimistic check loses LOUDLY at the post-publish verify (round-17)") {
    // r16 verdict task 3: the optimistic check leaves a check→publish
    // window — two passes can BOTH pass it before either renames, and
    // the rename that lands second used to silently discard the first
    // pass's published ledger (both dirs _COMPLETE-marked). Staged via
    // the publish seams: A holds a stale observed marker (readLatest
    // seam ⇒ its load AND optimistic check see v1) and the racer's
    // rename lands inside A's rename→verify window (afterRename seam).
    val idx = java.nio.file.Files.createTempDirectory("ivfidx8").toString
    val hfs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def latestRaw(): String = {
      val in = hfs.open(new org.apache.hadoop.fs.Path(s"$idx/LATEST"))
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }
    val df = embCorpus(180)
    val c1 = CorpusPrep.compactNearDups(df.filter($"vec_id" < 120),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9)
    assert(c1.version == 1)
    val rawV1 = latestRaw()
    // the racer B: a normal serialized pass that publishes v2
    val cB = CorpusPrep.compactNearDups(df.filter($"vec_id" < 150),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9)
    assert(!cB.retrained && cB.version == 2)
    val rawV2B = latestRaw()
    val bLedgerRows = cB.ledger.count()
    // A raced B: loaded at v1, checked at v1 (seam), renamed — and B's
    // rename lands inside A's rename→verify window (seam restores it)
    val e = intercept[IllegalStateException] {
      CorpusPrep.compactNearDupsImpl(df, "vec_id", "embedding", idx,
        tau = 0.95, k = _ => 9, driftTolerance = 4.0,
        maxDriftFraction = 0.1, growthFactor = 2.0,
        deepMinK = 8000, lockStaleMs = 3600000L,
        seams = CorpusPrep.PublishSeams(
          readLatest = Some(() => Some(rawV1)),
          afterRename = () => {
            val out = hfs.create(
              new org.apache.hadoop.fs.Path(s"$idx/LATEST"), true)
            try out.write(rawV2B.getBytes("UTF-8")) finally out.close()
          }))
    }
    assert(e.getMessage.contains("post-publish"), e.getMessage)
    // exactly one winner: LATEST still resolves to B, B's state intact,
    // and the loud loser's v2 attempt dir is gone (it must never win a
    // crash-window _COMPLETE fallback over B)
    assert(latestRaw() == rawV2B)
    val v2s = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.matches("v2(-[0-9a-f]+)?"))
    assert(v2s.toSeq == Seq(rawV2B), s"v2 dirs: ${v2s.mkString(",")}")
    val c3 = CorpusPrep.compactNearDups(df.filter($"vec_id" < 150),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9)
    assert(!c3.retrained && c3.version == 2 && c3.ledger.count() == bLedgerRows,
      "a subsequent pass must load the winner's state untouched")
    c1.release(); cB.release(); c3.release()
  }

  test("compactNearDups: distribution drift triggers a retrain that re-covers everything") {
    val idx = java.nio.file.Files.createTempDirectory("ivfidx2").toString
    val df = embCorpus(120)
    val c1 = CorpusPrep.compactNearDups(df, "vec_id", "embedding", idx,
      tau = 0.95, k = _ => 9)
    assert(c1.retrained && c1.version == 1)
    // a delta from a shifted distribution (every coarse distance blows
    // past tolerance² × typical)
    val shifted = embCorpus(60, seed = 99L, offset = 60.0f)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    val c2 = CorpusPrep.compactNearDups(df.unionByName(shifted),
      "vec_id", "embedding", idx, tau = 0.95, k = _ => 9)
    assert(c2.retrained && c2.version == 2)
    assert(c2.ledger.count() == 180)
    c1.codebook.release(); c2.codebook.release()
  }

  test("stream gates junk and dedups content across micro-batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    // gate-surviving texts straight from the corpus fixture
    val good = Tables.documents(spark, d).select($"doc_id", $"text")
    val goodTexts = CorpusPrep
      .gate(CorpusPrep.annotate(good, "text"), CorpusPrep.Config())
      .orderBy($"doc_id").limit(2).select($"text").as[String].collect()

    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    val q = CorpusPrep.stream(docs, "text", "ts")
      .writeStream.format("memory").queryName("corpus_stream")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, goodTexts(0)),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "z")) // gated: quality
      q.processAllAvailable()
      in.addData(
        (Timestamp.valueOf("2024-01-01 11:00:00"), 3L, goodTexts(0)), // dup of 1
        (Timestamp.valueOf("2024-01-01 11:01:00"), 4L, goodTexts(1)))
      q.processAllAvailable()
      val kept = spark.table("corpus_stream").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L), s"got $kept")
    } finally q.stop()
  }
}
