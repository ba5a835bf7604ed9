package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Frames
import graft.functions.Hashing

/** Document-deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine. The reference's
  * dedup slice is exact-match only (SURVEY.md §2.4 A12/A13,
  * merge_training_datasets/01,03); the sketch-based family is the
  * 100 TB-scale extension the brief requires.
  *
  * Scale design, common to all: never materialize the O(n²) pair space.
  * Candidates come from an equi-join on a *bucket key* (hash group, LSH
  * band, SimHash band, shared shingle, IVF cell), are deduped to (a < b),
  * and only then exactly verified. Every join is a hash join on a key with
  * bounded fan-out; the verify step is per-pair O(doc length).
  */
object Dedup {

  /** Exact duplicate groups by arbitrary key columns (A12:
    * 01_create_file_index.R:69-75): groups with >1 member, smallest id as
    * the canonical keeper.
    */
  def exactGroups(df: DataFrame, id: String, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(count(lit(1)).as("n"), min(col(id)).as("keeper"))
      .filter(col("n") > 1)

  /** Adds `__sh` (k-shingle set) and `__th` (shingle hashes) to docs:
    * the sketch [[simhashPairsFromSketch]] and [[ngramPairsFromSketch]]
    * read.
    */
  private[graft] def shingleSketch(docs: DataFrame, text: String, k: Int): DataFrame =
    docs
      .withColumn("__sh", Hashing.shingles(Hashing.words(col(text)), k))
      .filter(size(col("__sh")) > 0)
      .withColumn("__th", Hashing.tokHashes(col("__sh")))

  /** Pair-frame lifecycle: every pair plan reads its sketch from 3-4
    * branches (both join sides and the verify join-backs), so the sketch
    * is pinned ([[Frames.pin]], one action) and the pair plan is built
    * over the pin, then pinned in turn: downstream actions never re-run
    * the sketch or join work, and no cache entry is made. The pinned
    * sketch is a short RDD-scan leaf, so under AQE the verify's
    * join-back broadcast is reused; over a cached sketch (a
    * `TableCacheQueryStage` child) it is not. Callers check the columns
    * the pair plan reads before calling, so a bad column starts no job.
    */
  private def pinPairs(sketch: DataFrame)(pairs: DataFrame => DataFrame): DataFrame =
    Frames.pin(pairs(Frames.pin(sketch)))

  /** Drops LSH buckets larger than `cap` from candidate generation.
    * Boilerplate-heavy corpora concentrate mass in a few (band, key)
    * buckets; a bucket of size m contributes m² candidate pairs, so one
    * hot bucket is a disguised cross product. Capping trades bounded
    * recall loss for a hard fan-out bound — the standard large-scale
    * LSH mitigation. The recall argument differs by caller: the
    * MinHash/SimHash paths usually recover a dropped pair via its OTHER
    * bands, but the inverted-shingle-index caller
    * ([[ngramJaccardPairs]]) has no second band — a pair whose shared
    * shingles are ALL hot is lost there outright (round-11 review),
    * which is why its `maxBucket` defaults to None and setting it
    * forfeits that method's exact-recall contract.
    */
  private def capBuckets(
      banded: DataFrame, keys: Seq[String], cap: Option[Int]): DataFrame =
    cap.fold(banded) { c =>
      val hot = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") > c)
      banded.join(hot, keys, "left_anti")
    }

  /** The banded-MinHash sketch of `docs` (the Broder construction: 8
    * MinHashes in 4 bands of 2): one row per doc with a non-empty
    * shingle set, holding `__id`, `__sh` (the k-shingle set the verify
    * step scores) and `__bk` (one band key per band, indexed by band).
    * The SINGLE source of the band-key packing, shared by the candidate
    * join and the bucket-mass profile so the two can never measure
    * different bandings. Callers that read it more than once pin it
    * ([[Frames.pin]]): every LSH plan reads it from 3-4 branches (both
    * join sides and both verify join-backs).
    */
  private[graft] def lshSketch(
      docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val nBands = Hashing.MinHashSeeds.size / 2
    docs
      .select(col(id).as("__id"),
        Hashing.shingles(Hashing.words(col(text)), k).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__mh", Hashing.minhashAll(Hashing.tokHashes(col("__sh"))))
      .select(col("__id"), col("__sh"), array((0 until nBands).map { b =>
        element_at(col("__mh"), 2 * b + 1) * Hashing.MinP +
          element_at(col("__mh"), 2 * b + 2)
      }: _*).as("__bk"))
  }

  /** (`__id`, band, key): one row per band of each sketched doc. */
  private def bandedKeys(sketch: DataFrame): DataFrame =
    sketch.select(col("__id"), posexplode(col("__bk")).as(Seq("band", "key")))

  /** Bucket-mass profile of the banded-LSH key space — what a
    * deployment reads to decide whether it needs a `maxBucket` cap
    * BEFORE the uncapped candidate join teaches it the hard way:
    * candidate volume is QUADRATIC in hot-bucket mass (121k → 11.1M
    * candidates for 10× data on the scaling corpora, max bucket
    * 35 → 265).
    *
    * `candidatePairs` is Σ m·(m−1)/2 over (band, key) buckets — the
    * EXACT candidate-join output size the uncapped pipeline will pay,
    * integer-exact via DIV. One narrow aggregation (n·bands rows of
    * (band, key)) — linear, one shuffle.
    */
  final case class LshBucketProfile(
      buckets: Long, maxBucket: Long, candidatePairs: Long)

  /** Standalone profile: pays its own shingle/minhash pass. */
  def lshBucketProfile(docs: DataFrame, id: String, text: String,
      shingleK: Int = 5): LshBucketProfile =
    lshProfile(lshProfileFrame(lshSketch(docs, id, text, shingleK)).collect()(0))

  /** The profile as a lazy one-row frame (`buckets`, `max_bucket`,
    * `candidate_pairs`) over a sketch, so a caller can fold it into an
    * action it runs anyway. Always the UNCAPPED banding: its consumer
    * sizes `maxBucket` from it.
    */
  private[graft] def lshProfileFrame(sketch: DataFrame): DataFrame =
    bandedKeys(sketch)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("m"))
      .agg(count(lit(1)).as("buckets"),
        coalesce(max(col("m")), lit(0L)).as("max_bucket"),
        coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L))
          .as("candidate_pairs"))

  /** Reads a collected row of [[lshProfileFrame]] (by name, so the row
    * may carry other columns).
    */
  private[graft] def lshProfile(row: Row): LshBucketProfile =
    LshBucketProfile(row.getAs[Long]("buckets"), row.getAs[Long]("max_bucket"),
      row.getAs[Long]("candidate_pairs"))

  /** Exact Jaccard between two string-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    // |a∪b| via |a|+|b|−|a∩b| is exact only for DISTINCT arrays — every
    // in-repo caller passes Hashing.shingles' distinct output; arrays
    // with duplicates would inflate the score. Binding the intersection
    // to one Column value makes the two plan occurrences STRUCTURALLY
    // IDENTICAL, which is what lets whole-stage codegen's subexpression
    // elimination (on by default) evaluate the expensive half of the
    // verify stage once per pair — the round-11 form wrote the subtree
    // twice with no guarantee of matching shapes. (Precision for the
    // round-12 reader: this relies on CSE; a truly single-eval plan
    // would need its own projection step, not worth the extra exchange.)
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Shared exact-Jaccard verify tail: join both sides' shingle sets
    * back onto the candidate pairs, score with [[jaccard]], threshold.
    * One source (round-13 review) so the verify contract cannot drift
    * between the LSH and inverted-index callers — the same
    * single-source concern behind [[capBuckets]].
    */
  private def verifyJaccard(
      cand: DataFrame, base: DataFrame, minJaccard: Double): DataFrame =
    cand
      .join(base.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** MinHash + banded LSH near-duplicate pairs over [[lshSketch]]: a
    * shared band is the join key; survivors are verified with exact
    * shingle-set Jaccard ≥ `minJaccard`.
    *
    * At scale: the band join's fan-out is bounded by bucket size; cap
    * pathological hot buckets (boilerplate shingles) with `maxBucket`
    * (bounded recall loss, documented at [[capBuckets]]).
    */
  def minhashLshPairs(
      docs: DataFrame, id: String, text: String,
      shingleK: Int = 5, minJaccard: Double = 0.5,
      maxBucket: Option[Int] = None): DataFrame =
    pinPairs(lshSketch(docs, id, text, shingleK))(
      lshPairsFromSketch(_, minJaccard, maxBucket))

  /** The lazy candidate join + verify over a sketch: (id_a, id_b,
    * jaccard) with id_a < id_b.
    */
  private[graft] def lshPairsFromSketch(
      sketch: DataFrame, minJaccard: Double, maxBucket: Option[Int]): DataFrame = {
    val banded = capBuckets(bandedKeys(sketch), Seq("band", "key"), maxBucket)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sketch, minJaccard)
  }

  /** SimHash near-duplicate pairs: 64-bit signature, 4 bands of 16 bits as
    * candidate keys (any pair at Hamming ≤ 3 shares ≥ 1 band — pigeonhole),
    * verified by popcount(xor) ≤ `maxHamming`.
    *
    * 16-bit bands give a 65,536-way key space per band: expected bucket
    * size n/65536, candidate volume O(n²/2³⁴) — a 32-bit/8-bit-band
    * variant has 256 keys per band and degenerates into a near cross
    * product as n grows.
    *
    * RECALL CONTRACT (round-13 review): candidate completeness holds
    * only for `maxHamming` ≤ 3 (pigeonhole over 4 bands). A larger
    * radius is a legitimate *heuristic* — verified pairs are still
    * exact — but pairs whose differing bits spread across ≥ 4 bands
    * share no band and are not generated; callers past 3 accept the
    * banded-candidate subset, the same documented trade as
    * [[capBuckets]].
    */
  def simhashPairs(
      docs: DataFrame, id: String, text: String,
      shingleK: Int = 5, maxHamming: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    docs.col(id) // the sketch does not read the id: fail before it is pinned
    pinPairs(shingleSketch(docs, text, shingleK))(
      simhashPairsFromSketch(_, id, maxHamming, maxBucket))
  }

  /** The lazy SimHash candidate join + verify over a [[shingleSketch]]. */
  private[graft] def simhashPairsFromSketch(sketch: DataFrame, id: String,
      maxHamming: Int, maxBucket: Option[Int]): DataFrame = {
    val base = sketch.select(col(id).as("__id"), Hashing.simhash64(col("__th")).as("__sig"))
    val banded = capBuckets(
      base.select(
        col("__id"), col("__sig"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), 16 * b).bitwiseAND(65535L).as("key"))
        }: _*)).as("bk"))
        .select(col("__id"), col("__sig"), col("bk.band"), col("bk.key")),
      Seq("band", "key"), maxBucket)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        col("x.__sig").as("sig_a"), col("y.__sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** n-gram Jaccard pairs without sketching: candidates share ≥ 1 shingle
    * (inverted-index join), then exact Jaccard. Exact-recall counterpart
    * of [[minhashLshPairs]]; costlier candidates, no probabilistic miss —
    * with `maxBucket = None` (the default). Setting `maxBucket` bounds
    * the hot-shingle fan-out but BREAKS exact recall: unlike the banded
    * sketches there are no other bands to recover a pair whose shared
    * shingles are all hot, so such a pair is silently lost (see
    * [[capBuckets]]). Use the capped mode only when the corpus is
    * boilerplate-heavy AND approximate recall is acceptable — otherwise
    * prefer [[minhashLshPairs]] at that scale.
    */
  def ngramJaccardPairs(
      docs: DataFrame, id: String, text: String,
      shingleK: Int = 5, minJaccard: Double = 0.5,
      maxBucket: Option[Int] = None): DataFrame = {
    docs.col(id) // the sketch does not read the id: fail before it is pinned
    pinPairs(shingleSketch(docs, text, shingleK))(
      ngramPairsFromSketch(_, id, minJaccard, maxBucket))
  }

  /** The lazy inverted-index candidate join + verify over a
    * [[shingleSketch]].
    */
  private def ngramPairsFromSketch(sketch: DataFrame, id: String,
      minJaccard: Double, maxBucket: Option[Int]): DataFrame = {
    val base = sketch.select(col(id).as("__id"), col("__sh"))
    val inv = capBuckets(
      base.select(col("__id"), explode(col("__sh")).as("shingle")),
      Seq("shingle"), maxBucket)
    val cand = inv.as("x").join(inv.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
    verifyJaccard(cand, base, minJaccard)
  }

  /** Connected components over a near-dup pair list → cluster id per doc
    * (the finisher for every sketch above: near-dup PAIRS become KEEP /
    * DROP decisions per connected group).
    *
    * Adaptive: near-dup edge lists are tiny relative to the corpus (only
    * dup docs appear), so when at most `driverMaxEdges` edges arrive the
    * labeling is driver-side union-find over ONE bounded collect
    * (`driverMaxEdges + 1` rows: getting more proves the edge list is
    * over the bound without counting it). The collected edges are not
    * deduplicated; union-find is insensitive to repeated and reversed
    * edges, so a pair list carrying duplicates may take the distributed
    * branch earlier but never labels differently.
    *
    * Above the bound, a distributed min-label + pointer-jumping loop
    * (each round: neighbor-min then label(label(id)) — O(log diameter)
    * rounds, the standard Spark CC pattern). The first `freeRounds`
    * rounds run without convergence checks; after that each round pays
    * one cheap change-count job on the (tiny, checkpointed) label frame
    * and the loop exits at fixpoint. `maxRounds` is a hard stop —
    * hitting it throws rather than silently under-merging. The default
    * `freeRounds = 2` fits near-dup graphs, whose components are mostly
    * a handful of re-uploads: fixpoint lands by round 2-3, and each
    * blind round costs two joins, a shuffle and a pin, against one
    * small join for a check (at sf0.1: 1.44-1.84 s per invocation
    * versus 2.88-6.16 s with six blind rounds, identical labels; the
    * measurement is in OPTIMIZATION_r19.md §2, taken with the `cc`
    * probe main last held at commit bf19849, and DupClusterSpec pins
    * equal labels across schedules).
    *
    * The distributed branch's wall time is high-variance even on an idle
    * host (per-round pins make it disk- and
    * scheduler-sensitive). Its rounds are deliberately NOT bounded at
    * bench SF — q75 exercises the full convergence loop the 100 TB path
    * runs, so BASELINE.md annotates q75 as high-variance (±2.5 s).
    *
    * @param pairs (id_a, id_b) edges
    * @return (id, cluster) — cluster = min reachable id; singletons absent
    */
  def dupClusters(
      pairs: DataFrame, driverMaxEdges: Long = 1L << 20,
      freeRounds: Int = 2, maxRounds: Int = 24): DataFrame =
    clusterLabels(pairs, driverMaxEdges, freeRounds, maxRounds)._1

  /** [[dupClusters]]' labels, with the driver branch's (id, cluster)
    * rows when that branch ran, so a caller can count them without a
    * Spark job. The distributed branch's labels stay off the driver
    * (`None`).
    */
  private[graft] def clusterLabels(
      pairs: DataFrame, driverMaxEdges: Long = 1L << 20, freeRounds: Int = 2,
      maxRounds: Int = 24): (DataFrame, Option[Seq[(Long, Long)]]) = {
    // a freeRounds past maxRounds would skip EVERY convergence check
    // and throw "not converged" on a graph that reached fixpoint in
    // round 1
    require(freeRounds <= maxRounds,
      s"freeRounds ($freeRounds) must be <= maxRounds ($maxRounds): " +
        "no convergence check would ever run")
    val spark = pairs.sparkSession
    import spark.implicits._
    // the label machinery works in long: a string id (URL, UUID) would
    // cast to null under non-ANSI and every edge silently collapses to
    // (null, null) — the consumer's anti-join then drops NOTHING and
    // near-dups survive with no warning. Require integral ids up front
    // via the one shared whitelist.
    Seq("id_a", "id_b").foreach(Similarity.integralIdType(pairs, _))
    val longEdges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    // Dataset.limit takes an Int; a bound at or past Int.MaxValue edges
    // would not fit a driver collect anyway
    val probe = math.min(math.max(driverMaxEdges, 0L), Int.MaxValue - 1L).toInt + 1
    val collected = longEdges.limit(probe).as[(Long, Long)].collect()
    if (collected.length <= driverMaxEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      collected.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(id => (id, find(id)))
      (rows.toDF("id", "cluster"), Some(rows))
    } else {
      val labels = Frames.scoped { s =>
        val edges = s.cache(longEdges.distinct())
        val und = s.cache(edges
          .union(edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
          .distinct())
        pointerJump(und, freeRounds, maxRounds)
      }
      (labels, None)
    }
  }

  /** The distributed branch of [[dupClusters]] over the undirected,
    * deduplicated edge frame `und`.
    */
  private def pointerJump(und: DataFrame, freeRounds: Int, maxRounds: Int): DataFrame = {
    // a pin truncates lineage each round: a persist chain nests each
    // round's plan inside the next (InMemoryRelation keeps its child
    // plan) and Spark's per-action plan rendering then costs exponential
    // time in round count
    var labels = Frames.pin(und.select(col("id_a").as("id")).distinct()
      .withColumn("cluster", col("id")))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val nb = und
        .join(labels.select(col("id").as("__bid"), col("cluster").as("__bc")),
          col("id_b") === col("__bid"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("__bc")).as("__nbmin"))
      val stepped = labels.join(nb, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("__nbmin"), col("cluster"))).as("cluster"))
      val jumped = Frames.pin(stepped.as("a")
        .join(stepped.select(col("id").as("__pid"), col("cluster").as("__pc")).as("b"),
          col("a.cluster") === col("__pid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster"), coalesce(col("__pc"), col("a.cluster"))).as("cluster")))
      round += 1
      if (round >= freeRounds) {
        // fixpoint ⟺ a full neighbor-min + pointer round changed nothing
        converged = jumped.as("n")
          .join(labels.select(col("id"), col("cluster").as("__oc")), "id")
          .filter(col("cluster") =!= col("__oc"))
          .isEmpty
      }
      labels = jumped
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters: not converged after $maxRounds pointer-jumping rounds " +
        "(component diameter beyond budget) — raise maxRounds")
    labels
  }

  /** Embedding-cosine near-duplicate pairs within blocks (`blockCol` is
    * the IVF-cell / LSH-bucket stand-in; null → global, only sane for
    * tests). Cosine is a deterministic left-fold (see
    * [[Similarity.cosine]]) so results are partitioning-independent.
    */
  def embeddingNearDupPairs(
      embs: DataFrame, id: String, vec: String,
      minCosine: Double, blockCol: Option[String]): DataFrame = {
    val e = embs.select(
      col(id).as("__id"), col(vec).as("__v"),
      blockCol.map(col).getOrElse(lit(0)).as("__blk"),
      sqrt(Similarity.dot(col(vec), col(vec))).as("__n"))
      // zero-norm exclusion (round-11): a zero vector's cosine is
      // 0/0 = NaN, and Spark's total-order comparison makes
      // NaN >= minCosine TRUE — every zero vector would be flagged a
      // near-dup of its whole block. Cosine similarity is undefined
      // for it; it can neither drop nor be dropped (the topK rule).
      // non-finite norms excluded entirely (round-13 review, the
      // nonZeroNormSql contract): an Inf-component vector's Inf norm
      // passes a zero/NaN-only gate, its cosine vs every block member
      // is NaN (Inf/Inf), and NaN >= minCosine is TRUE under Spark's
      // NaN-greatest ordering — through semDedup an Inf row with the
      // smallest id in its cell would silently drop the whole cell
      .filter(Similarity.finiteNorm(col("__n")))
    e.as("x").join(e.as("y"),
        col("x.__blk") === col("y.__blk") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        // sequential /na/nb matches Similarity.cosineSql's fold order
        (Similarity.dot(col("x.__v"), col("y.__v")) / col("x.__n") / col("y.__n"))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * k-means clustering + intra-cluster cosine pruning. Every embedding
    * is assigned to its nearest centroid ([[Similarity.cellAssign]] —
    * map-side, centroids are plan literals), then a row is DROPPED iff
    * some smaller-id member of the same cell is `tau`-cosine-close (the
    * deterministic keep-lowest-id representative policy; the paper keeps
    * the member farthest from the centroid — any fixed policy works, and
    * id-min is partitioning- and engine-stable).
    *
    * Scale shape: the pair space is cell-bucketed, never all-pairs —
    * k grows with the corpus so cell populations stay bounded (the
    * paper's own recipe; SemDeDup's published runs cluster 100M+ docs
    * into 50k clusters). The one non-distributed step is centroid
    * training on a bounded seeded sample
    * ([[Similarity.trainKmeansCentroids]], flat in corpus size).
    * Returns one row per input: (id, cell, dropped).
    */
  def semDedup(
      embs: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]], tau: Double): DataFrame =
    semDedupAssigned(
      embs.withColumn("__cell", Similarity.cellAssign(col(vec), centroids)),
      id, vec, tau, cellCol = "__cell")

  /** The SemDeDup drop policy over a PRE-ASSIGNED frame — the half of
    * [[semDedup]] that is independent of HOW cells were assigned (flat
    * plan-literal [[Similarity.cellAssign]], hierarchical
    * [[Ivf.assign]], or a loaded index): a row is dropped iff some
    * smaller-id member of the same cell is `tau`-cosine-close;
    * NULL-cell rows (possible under [[Ivf.assign]]'s corrupt-to-NULL
    * contract) are kept — visible, never silently binned. Returns one
    * (id, cell, dropped) row per input.
    *
    * Lifecycle: the assigned frame is cached while the PAIR stage
    * materializes — the self-join's x and y sides otherwise each
    * re-run the assignment kernel, the operator's dominant cost. The
    * small dropped-id dim is pinned (pair work never re-runs), and the
    * narrow (id, cell) assignment is pinned FROM THE SAME CACHE before
    * the cache is released. The returned frame joins those two checkpointed narrow frames and
    * never re-touches the kernel or the codebook — returning the live
    * assigned plan instead re-runs the assignment (flat
    * [[Similarity.cellAssign]] projection or the [[Ivf.assign]]
    * codebook-join chain) once more at every caller's action, one
    * redundant corpus pass per rollup consumer. The q91/q104 plan pins
    * assert this shape.
    */
  def semDedupAssigned(assigned: DataFrame, id: String, vec: String,
      tau: Double, cellCol: String = "cell"): DataFrame =
    Frames.scoped { s =>
      val cached = s.cache(assigned)
      val dropped = Frames.pin(embeddingNearDupPairs(
          cached.filter(col(cellCol).isNotNull), id, vec, tau, Some(cellCol))
        .select(col("id_b").as("__did")).distinct())
      val cells = Frames.pin(cached.select(col(id), col(cellCol)))
      cells.join(dropped, col(id) === col("__did"), "left")
        .select(col(id), col(cellCol).as("cell"),
          col("__did").isNotNull.as("dropped"))
    }

  /** The SemDeDup flat→two-level threshold on k: the measured
    * end-to-end crossover (sf1, BENCH_SCALING.md: flat wins 2.5× at
    * k=80 and 1.5× at k=320; hierarchical wins 1.7× by k=1280 — 512
    * lies between, below the point where the flat plan literal even
    * reaches a megabyte).
    */
  val FlatMaxK = 512

  /** The one cell-model tier switch: 1 (flat plan-literal centroids)
    * at k ≤ `flatMaxK`, else the [[Ivf.Codebook]] depth — 2 below
    * `deepMinK`, 3 from it on. Small-k corpora keep the faster flat
    * shape (zero joins, map-side assignment); above it the flat
    * trainer's O(pool·k·d) driver seeding and k·d-byte plan literal
    * both grow linearly in k, and the hierarchical codebook removes
    * them; at [[Ivf.DeepMinK]] the two-level assign's Θ(√k·d)-per-row
    * term becomes the dominant asymptote and the three-level codebook
    * bounds it at Θ(3·k^⅓·d). Callers that always need a codebook pass
    * `flatMaxK = 0`.
    */
  def cellDepth(k: Int, flatMaxK: Int = FlatMaxK,
      deepMinK: Int = Ivf.DeepMinK): Int = {
    require(flatMaxK >= 0, s"flatMaxK must be >= 0: $flatMaxK")
    require(deepMinK > flatMaxK,
      s"deepMinK ($deepMinK) must exceed flatMaxK ($flatMaxK)")
    if (k <= flatMaxK) 1 else if (k < deepMinK) 2 else 3
  }

  /** [[semDedup]] over the [[cellDepth]] tier for `k`: flat sampled
    * centroids ([[Similarity.trainKmeansCentroids]]) or a two/three
    * level [[Ivf]] codebook. [[semDedupAssigned]] materializes
    * everything that touches the codebook (the dropped-id dim and the
    * narrow (id, cell) assignment are both pinned inside it), so
    * the trained codebook's cache releases safely right after it
    * returns. `id` must be integral and row-unique ([[Ivf.train]]'s
    * enforced contract). For a DURABLE repeatedly-maintained index at
    * deployment scale, prefer [[graft.jobs.CorpusPrep.compactNearDups]]
    * — this is the one-shot form.
    */
  def semDedupScaled(
      embs: DataFrame, id: String, vec: String,
      k: Int, tau: Double, flatMaxK: Int = FlatMaxK,
      deepMinK: Int = Ivf.DeepMinK): DataFrame =
    cellDepth(k, flatMaxK, deepMinK) match {
      case 1 =>
        semDedup(embs, id, vec,
          Similarity.trainKmeansCentroids(embs, vec, k, idCol = Some(id)), tau)
      case depth =>
        val cb = Ivf.train(embs, vec, id, k, depth)
        // assign into a reserved name: "cell" would silently REPLACE an
        // id/vec column of that name
        try semDedupAssigned(
          Ivf.assign(embs.select(col(id), col(vec)), vec, cb, "__sdh_cell"),
          id, vec, tau, cellCol = "__sdh_cell")
        finally cb.release()
    }
}
