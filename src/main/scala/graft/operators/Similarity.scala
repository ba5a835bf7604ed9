package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftBridge}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.plans.FloatArrayDot

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — the similarity-search extension the brief requires
  * alongside the reference's relational surface.
  *
  * Design: brute-force cosine top-k as the exact baseline (a broadcast
  * join of the small query set against the full corpus — scans the corpus
  * once, no shuffle of the corpus itself), and an IVF-style variant that
  * restricts the scan to candidate cells, cutting scanned rows by the cell
  * fan-out. The dot product is a native codegen expression
  * ([[graft.plans.FloatArrayDot]]); norms are computed once per row, not
  * per pair.
  */
object Similarity {

  /** Deterministic dot product: per-element double products, left-fold
    * sum in array order — bit-identical under any partitioning (and in
    * the DuckDB oracle, which folds the same sequence).
    */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(FloatArrayDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))

  /** SQL twin of [[cosine]] for DuckDB oracles: identical fold order. */
  def cosineSql(a: String, b: String): String = {
    def dotSql(x: String, y: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($x, $y), " +
        s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"
    s"${dotSql(a, b)} / SQRT(${dotSql(a, a)}) / SQRT(${dotSql(b, b)})"
  }

  /** SQL twin of the exact top-k paths' norm exclusion
    * ([[bruteForceTopK]]/[[ivfTopK]] filter `sqrt(v·v) > 0` and not
    * NaN): oracles must apply this on both query and candidate sides
    * or a zero vector's 0/0 = NaN cosine — which DuckDB sorts GREATEST
    * — would rank it the #1 neighbor of everything while Spark
    * excludes it. The NOT isnan half: BOTH engines
    * evaluate `NaN > 0.0` as TRUE (NaN-greatest comparison), so a
    * vector with one NaN COMPONENT sailed through the zero-norm gate
    * on both sides and its NaN cosine satisfied every threshold —
    * silently agreeing wrong, which the hash gate cannot catch. The
    * NOT isinf half: an Inf COMPONENT gives an Inf
    * norm that passes both earlier halves, and its cosine is NaN
    * (Inf/Inf) — ranked LAST by the Spark aggregator but FIRST by the
    * oracle's NaN-greatest ORDER BY, a latent engine divergence; the
    * gate must exclude every non-finite norm on both sides.
    */
  def nonZeroNormSql(vec: String): String = {
    val sumsq = s"list_reduce(list_prepend(0.0, list_transform($vec, " +
      s"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v)"
    s"($sumsq > 0.0 AND NOT isnan($sumsq) AND NOT isinf($sumsq))"
  }

  /** Symmetric per-vector int8 quantization — the 4× embedding
    * compression an ANN index carries at 100 TB: `q_i = round(x_i /
    * (maxabs / 127))`, zero vectors → all zeros. Rounding is
    * `floor(x + 0.5)` rather than `round()`: floor is exact in IEEE
    * double and identical across engines, while round()'s tie behavior
    * is not (the oracle-exactness rule). |q_i| ≤ 127 by construction —
    * |x/scale| ≤ 127(1+ε) stays below the 127.5 tie point. Pure map-side
    * expression; the scale stays recoverable as `array_max(abs(vec))/127`.
    */
  def quantizeInt8(vec: Column): Column = {
    val maxabs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = maxabs / 127.0
    // non-finite maxabs (any NaN component → NaN, NaN sorts greatest on
    // both engines; any ±Inf component → Inf, and Inf/Inf = NaN for that
    // component) routes to the zero branch like a zero vector: the
    // engines otherwise DIVERGE on floor(NaN) — Spark converts NaN→0
    // inside floor while DuckDB keeps NaN and its CAST AS INTEGER aborts
    // the query (the KMeans.quantize clamp-before-floor class).
    // Callers' norm gates already exclude such
    // vectors from ranking; this keeps the quantizer itself total and
    // engine-identical.
    when(maxabs === 0.0 || isnan(maxabs) || maxabs === lit(Double.PositiveInfinity),
        transform(vec, _ => lit(0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") / scale + 0.5).cast("int")))
  }

  /** SQL twin of [[quantizeInt8]] (same association: `x / (maxabs/127)`,
    * same non-finite-maxabs zero route).
    */
  def quantizeInt8Sql(vec: String): String = {
    val maxabs = s"list_max(list_transform($vec, x -> abs(CAST(x AS DOUBLE))))"
    s"CASE WHEN $maxabs = 0.0 OR isnan($maxabs) OR isinf($maxabs) " +
      s"THEN list_transform($vec, x -> 0) " +
      s"ELSE list_transform($vec, x -> CAST(floor(CAST(x AS DOUBLE) " +
      s"/ ($maxabs / 127.0) + 0.5) AS INTEGER)) END"
  }

  /** Exact integer dot product of two int arrays (long accumulator).
    * The cast happens BEFORE the multiply — `x * y` in Int wraps
    * silently at 2³¹ (fine for int8 inputs, wrong for the general
    * counts-vector caller this API invites), and the SQL twin multiplies
    * in BIGINT.
    */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y),
      lit(0L), (acc, v) => acc + v)

  /** SQL twin of [[intDot]] (sum order irrelevant — integers are
    * exact). NULL-propagating reduce, not list_sum:
    * list_sum SKIPS null elements, so unequal-length arrays — which
    * zip_with NULL-pads and the Spark side therefore nulls — would
    * yield a plausible finite truncated dot in the oracle only.
    */
  def intDotSql(a: String, b: String): String =
    s"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS BIGINT) * p[2])), (acc, v) -> acc + v) AS BIGINT)"

  /** Brute-force top-k over [[quantizeInt8]]-quantized vectors: the
    * per-vector scale cancels in cosine, so candidates rank by the
    * cosine of the int8 arrays directly — every score input (dot,
    * squared norms) is an exact integer and the resulting double is
    * bit-identical across engines and partitionings, with no
    * float-parity caveats at all. Same plan shape as [[bruteForceTopK]]
    * (queries broadcast, corpus scanned once, O(k) ranking state) at a
    * quarter of the vector memory traffic — the trade is quantization
    * error in WHICH neighbors rank top-k, not in determinism.
    * Zero vectors (quantized all-zero) are excluded from both sides —
    * cosine is undefined for them.
    */
  def quantizedTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame = {
    // k = 0 would crash executors inside TopKNeighbors.insert
    // (`b.last` on an empty buffer) instead of failing loudly here
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val idType = integralIdType(corpus, cId)
    val c = corpus
      .select(col(cId), quantizeInt8(col(cVec)).as("__cq"))
      .withColumn("__cn2", intDot(col("__cq"), col("__cq")))
      .filter(col("__cn2") > 0L)
    val q = queries
      .select(col(qId), quantizeInt8(col(qVec)).as("__qq"))
      .withColumn("__qn2", intDot(col("__qq"), col("__qq")))
      .filter(col("__qn2") > 0L)
    val joined = c.join(broadcast(q), col(qId) =!= col(cId))
      .withColumn("cosine",
        intDot(col("__qq"), col("__cq")).cast("double")
          / sqrt(col("__qn2").cast("double"))
          / sqrt(col("__cn2").cast("double")))
      .filter(col("cosine").isNotNull) // dim-mismatch pairs — see bruteForceTopK
      .withColumn("__cid", col(cId).cast("long"))
    rankTopK(joined, qId, k, idType)
  }

  /** SQL twin of the quantized cosine given pre-quantized lists and
    * their integer squared norms.
    */
  def quantizedCosineSql(a: String, b: String, an2: String, bn2: String): String =
    s"CAST(${intDotSql(a, b)} AS DOUBLE) " +
      s"/ SQRT(CAST($an2 AS DOUBLE)) / SQRT(CAST($bn2 AS DOUBLE))"

  /** One scored neighbor candidate (aggregator input). */
  final case class Neighbor(id: Long, cosine: Double)
  /** One ranked result (aggregator output element). */
  final case class Ranked(neighbor_id: Long, rank: Int, cosine: Double)

  /** Bounded top-k by (cosine desc, id asc): a fixed-size buffer per
    * group with map-side partial aggregation — candidates never
    * materialize through a window sort, so per-query state is O(k)
    * regardless of corpus size (the |corpus|x|queries| window sort was
    * the one non-scalable piece of the ANN paths).
    */
  final class TopKNeighbors(k: Int)
      extends Aggregator[Neighbor, List[Neighbor], Seq[Ranked]] {
    // the buffer stays sorted by this total order at all times — same
    // key sortBy used previously, so results are bit-identical
    private val ord: Ordering[Neighbor] = Ordering.by(n => (-n.cosine, n.id))
    private def insert(b: List[Neighbor], a: Neighbor): List[Neighbor] =
      // hot-path early reject: a candidate no better
      // than the current k-th costs one comparison, not a full O(k log k)
      // re-sort + allocation — the common case once the buffer fills
      if (b.lengthCompare(k) >= 0 && ord.gteq(a, b.last)) b
      else {
        val (pre, post) = b.span(n => ord.lt(n, a))
        val nb = pre ::: a :: post
        if (nb.lengthCompare(k) > 0) nb.init else nb
      }
    override def zero: List[Neighbor] = Nil
    override def reduce(b: List[Neighbor], a: Neighbor): List[Neighbor] = insert(b, a)
    override def merge(b1: List[Neighbor], b2: List[Neighbor]): List[Neighbor] =
      b2.foldLeft(b1)(insert)
    override def finish(b: List[Neighbor]): Seq[Ranked] =
      b.zipWithIndex.map { case (n, i) => Ranked(n.id, i + 1, n.cosine) }
    override def bufferEncoder: Encoder[List[Neighbor]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Neighbor]]()
    override def outputEncoder: Encoder[Seq[Ranked]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Ranked]]()
  }

  /** The id-keyed operators work in long; require an integral id up
    * front so a string/decimal id fails loudly instead of silently
    * nulling through `cast("long")`. Shared with [[Dedup.dupClusters]],
    * so the whitelist has one copy that cannot drift.
    */
  private[graft] def integralIdType(
      df: DataFrame, idCol: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(dt.isInstanceOf[ByteType] || dt.isInstanceOf[ShortType] ||
      dt.isInstanceOf[IntegerType] || dt.isInstanceOf[LongType],
      s"id column '$idCol' must be integral (got $dt); the operator keys " +
        "ids by long — pre-assign a dense long id for other key types")
    dt
  }

  /** The degenerate-norm exclusion gate, single-sourced (the Column twin
    * of [[nonZeroNormSql]]): hand-copies drifted twice, once each time
    * a clause (NaN, then Inf) was added.
    */
  private[operators] def finiteNorm(n: Column): Column =
    n > 0.0 && !isnan(n) && n =!= Double.PositiveInfinity

  /** Shared tail of both top-k paths: scored pairs → bounded aggregate →
    * exploded ranked rows. `idType` restores the corpus id's original
    * integral type on output (the aggregator works in long).
    */
  private def rankTopK(
      scored: DataFrame, qId: String, k: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val agg = udaf(new TopKNeighbors(k))
    scored
      .groupBy(col(qId).as("query_id"))
      .agg(agg(col("__cid"), col("cosine")).as("__topk"))
      .select(col("query_id"), explode(col("__topk")).as("r"))
      .select(col("query_id"), col("r.neighbor_id").cast(idType).as("neighbor_id"),
        col("r.rank"), col("r.cosine"))
  }

  /** Exact brute-force cosine top-k: every query row against the whole
    * corpus. Queries are broadcast (they are few); the corpus never
    * shuffles; ranking is the bounded [[TopKNeighbors]] aggregate (no
    * window sort over |corpus| candidate rows).
    *
    * Contract notes (shared by [[ivfTopK]]/[[ivfTopKProbed]]):
    * zero-norm vectors are excluded from BOTH sides — their cosine is
    * 0/0 = NaN, which would otherwise surface as ranked NaN "neighbors"
    * whenever a query has fewer than k finite candidates (the
    * [[quantizedTopK]] rule, applied to the exact paths too). The `qId =!= cId` self-pair exclusion assumes
    * queries and corpus share ONE id space (the queries frame is a
    * subset of the corpus, as every in-repo caller does); with
    * unrelated id sequences a corpus row numerically colliding with a
    * query id is silently excluded — assign disjoint ids if the two
    * sides are genuinely different datasets.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k") // see quantizedTopK
    val idType = integralIdType(corpus, cId)
    val q = queries.withColumn("__qn", sqrt(dot(col(qVec), col(qVec))))
      .filter(finiteNorm(col("__qn")))
    val c = corpus.withColumn("__cn", sqrt(dot(col(cVec), col(cVec))))
      .filter(finiteNorm(col("__cn")))
    val joined = c.join(broadcast(q), col(qId) =!= col(cId))
      .withColumn("cosine", dot(col(qVec), col(cVec)) / col("__qn") / col("__cn"))
      // a cross-pair dim mismatch makes the dot (hence cosine) NULL even
      // when both norms pass their own gates; the ranking aggregate's
      // non-nullable Double input would kill the job on it — exclude the
      // pair like every other degenerate
      .filter(col("cosine").isNotNull)
      .withColumn("__cid", col(cId).cast("long"))
    rankTopK(joined, qId, k, idType)
  }

  /** IVF-style restricted top-k: corpus pre-assigned to cells
    * (`cellCol`); each query probes only its own cell's rows. With
    * n/cells rows scanned per query this is the path that scales to
    * billions of vectors; recall depends on the cell assignment
    * (true IVF centroids, or any hash/label blocking).
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, qCell: String,
      cId: String, cVec: String, cCell: String,
      k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k") // see quantizedTopK
    val idType = integralIdType(corpus, cId)
    // zero-norm exclusion + shared-id-space contract: see bruteForceTopK
    val q = queries.withColumn("__qn", sqrt(dot(col(qVec), col(qVec))))
      .filter(finiteNorm(col("__qn")))
    val c = corpus.withColumn("__cn", sqrt(dot(col(cVec), col(cVec))))
      .filter(finiteNorm(col("__cn")))
    val joined = c.join(broadcast(q),
        col(qCell) === col(cCell) && col(qId) =!= col(cId))
      .withColumn("cosine", dot(col(qVec), col(cVec)) / col("__qn") / col("__cn"))
      .filter(col("cosine").isNotNull) // see bruteForceTopK
      .withColumn("__cid", col(cId).cast("long"))
    rankTopK(joined, qId, k, idType)
  }

  /** Multi-probe IVF top-k: each query probes its `qCells` array of
    * nearest cells instead of only its own — the standard recall lever
    * (recall grows with nProbe at nProbe× the probe cost; nProbe = #cells
    * degenerates to brute force). The exploded query side stays tiny
    * (queries × nProbe rows, broadcast); each corpus row lives in exactly
    * one cell, so no (query, candidate) pair can appear twice and the
    * O(k) ranking aggregate needs no dedup.
    */
  def ivfTopKProbed(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, qCells: String,
      cId: String, cVec: String, cCell: String,
      k: Int): DataFrame = {
    require(!queries.columns.contains("__qcell"),
      "queries frame already carries the internal __qcell column")
    ivfTopK(
      queries.withColumn("__qcell", explode(col(qCells))), corpus,
      qId, qVec, "__qcell", cId, cVec, cCell, k)
  }

  /** Driver-trained k-means centroids for IVF cells: Lloyd iterations on
    * a bounded sample collected to the driver (deterministic — fixed
    * sample, fixed iteration count), returned for [[cellAssign]] /
    * [[probeCells]] literals. At 100 TB the sample bound keeps driver
    * memory flat; executors only evaluate argmin-distance over k
    * centroid literals (native dot). Callers that need both the corpus
    * assignment and query probe lists train once and share.
    */
  def trainKmeansCentroids(
      corpus: DataFrame, vec: String, k: Int,
      iters: Int = 10, sampleMax: Int = 10000,
      idCol: Option[String] = None): Array[Array[Double]] = {
    // k = 0 would otherwise die deep in the Lloyd loop with a raw AIOOBE
    require(k >= 1, s"k-means requires k >= 1, got $k")
    // Hash-ordered top-k, NOT a bare limit() and NOT a seeded sample():
    // limit pulls from the first partitions (a partition-ordered corpus
    // would train on a biased slice), and Dataset.sample seeds its
    // Bernoulli sampler PER PARTITION — the same corpus under a
    // different file split yielded a different sample, different
    // centroids, different neighbors, contradicting the determinism
    // contract. sort(hash).limit compiles to
    // TakeOrderedAndProject: one scan with an O(sampleMax) heap per
    // partition, no shuffle, and the selected set depends only on the
    // data — hash order is uncorrelated with layout, so the cut is
    // unbiased and partitioning-independent. Pass `idCol` (a row-unique
    // key) where available: hashing the VECTOR alone selects by value
    // identity, so a duplicate-heavy corpus would sample many copies of
    // its few smallest-hash values instead of a spread.
    val sortKey = idCol match {
      case Some(id) => xxhash64(col(id))
      case None     => xxhash64(col(vec))
    }
    val sample = corpus.select(col(vec), sortKey.as("__h"))
      .sort(col("__h"))
      .limit(sampleMax)
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      // non-finite vectors are excluded like every ranking path's norm
      // gate: one NaN component assigned to cell 0 would make centroid 0
      // all-NaN after one iteration and silently leave k-1 effective
      // clusters (the distributed twin clamps via KMeans.quantize)
      .filter(_.forall(java.lang.Double.isFinite))
    require(sample.nonEmpty, "empty corpus (or all vectors non-finite)")
    val dims = sample.head.length
    // deterministic init: evenly spaced sample vectors (Long math: at
    // SemDeDup's k = n/250 recipe, i * sample.length overflows Int)
    var centroids = Array.tabulate(k)(i =>
      sample((i.toLong * sample.length / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dims)(0.0)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < dims) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Full-corpus alternative to [[trainKmeansCentroids]]: distributed
    * Lloyd via [[KMeans.lloyd]] with one parent — every
    * round is one full assignment pass (native codegen kernel) plus one
    * k·dims-sized shuffle; driver state is O(k·dims) per round, never
    * data-scale. Returns centroids in the same dequantized
    * `Array[Array[Double]]` shape [[cellAssign]]/[[probeCells]]/
    * [[graft.operators.Dedup.semDedup]] consume, so the two trainers
    * are drop-in interchangeable for those consumers.
    *
    * Centroid-count contract (it differs from the sampled trainer):
    * [[KMeans.lloyd]] drops cells that go empty during an iteration and
    * re-packs the survivors densely (the behavior its SQL oracle twin
    * `dense_rank`s to), and the seed pool is capped at the corpus size —
    * so this trainer can return FEWER than `k` centroids (always ≥ 1).
    * Vectors whose length differs from the first seed's take no part
    * (the [[KMeans.lloyd]] rule); a ragged seed fails the call.
    * The sampled [[trainKmeansCentroids]] always returns exactly `k`
    * (retaining empty-cell seeds). Callers sizing probe lists or cell
    * ids must use `centroids.length`, not the requested `k`; every
    * in-repo consumer does.
    *
    * Sample-vs-full guidance (measured in DedupSpec's recall/balance
    * case): RECALL of cell-bucketed near-dup detection is robust to
    * sampled centroids — a tight pair almost always co-assigns whatever
    * the cells look like — so the sampled trainer is the right default
    * (one bounded collect vs `iters` full corpus passes). What full
    * training buys is cell BALANCE: a sample that misses a cluster
    * merges it into a neighbor cell, and at 100 TB an oversized cell is
    * quadratic pair work (the SemDeDup paper's 50k-cluster runs exist
    * precisely to bound cell population). Use full training when
    * k approaches or exceeds an affordable sample size, or when cell
    *-size skew shows up in the pair stage.
    */
  def trainKmeansCentroidsFull(
      corpus: DataFrame, vec: String, k: Int,
      iters: Int = 10,
      idCol: Option[String] = None): Array[Array[Double]] = {
    // deterministic greedy farthest-point seeding over a bounded
    // hash-ordered pool (k-means++-style): k arbitrary draws would miss
    // clusters with high probability and distributed Lloyd only partly
    // recovers from an uncovered cluster; max-min seeding provably
    // covers well-separated clusters present in the pool. Driver work
    // is O(pool·k·dims) on a bounded pool — flat in corpus size.
    // Pass `idCol` (a row-unique key) where available, for the same
    // reason as [[trainKmeansCentroids]]: hashing the
    // VECTOR value alone means every copy in a duplicate-heavy corpus
    // shares one hash, so the poolN-row pool can hold fewer than k
    // DISTINCT vectors and max-min seeding then emits duplicate seeds —
    // merged cells, degraded IVF recall. A row-unique sort key keeps
    // the pool's distinct-value diversity proportional to the corpus.
    val poolN = math.max(k * 8, 64)
    val quantized = corpus.select(KMeans.quantize(col(vec)).as("xq"))
    val poolKey = idCol match {
      case Some(id) => xxhash64(col(id))
      case None     => xxhash64(KMeans.quantize(col(vec)))
    }
    val pool = corpus
      .select(KMeans.quantize(col(vec)).as("xq"), poolKey.as("__h"))
      .sort(col("__h"))
      .limit(poolN)
      .collect()
      .map(_.getSeq[Long](0).toArray)
    require(pool.nonEmpty, "empty corpus")
    def d2(a: Array[Long], b: Array[Long]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = (a(i) - b(i)).toDouble; s += x * x; i += 1
      }
      s
    }
    // running min-distance-to-chosen per pool vector, updated once per
    // newly chosen seed — O(pool·k·dims) total, not O(pool·k²·dims)
    val minD = Array.fill(pool.length)(Double.PositiveInfinity)
    val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
    var lastChosen = pool.head
    while (chosen.size < k && chosen.size < pool.length) {
      var best = 0
      var bestD = Double.NegativeInfinity
      var i = 0
      while (i < pool.length) {
        val d = d2(pool(i), lastChosen)
        if (d < minD(i)) minD(i) = d
        // strict > keeps the first maximum → deterministic under ties
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      lastChosen = pool(best)
      chosen += lastChosen
    }
    val init = chosen.map(_.toSeq).toSeq
    val cents = KMeans.lloyd(quantized, lit(0), col("xq"), Map(0 -> init), iters)(0)
    // dequantize: q = floor(x·Scale) ⇒ x ≈ (q + 0.5)/Scale (midpoint)
    cents.map(_.map(q => (q.toDouble + 0.5) / KMeans.Scale).toArray).toArray
  }

  /** ||v - c||² up to the per-row constant v·v: -2 v·c + c·c via native
    * dots — ordering-equivalent for argmin/sorting across cells.
    */
  private def centroidScore(vec: Column, c: Array[Double]): Column = {
    val cl = typedLit(c.toSeq).cast("array<float>")
    val vc = GraftBridge.column(FloatArrayDot(
      GraftBridge.expression(vec), GraftBridge.expression(cl)))
    val cc = GraftBridge.column(FloatArrayDot(
      GraftBridge.expression(cl), GraftBridge.expression(cl)))
    cc - vc * 2.0
  }

  /** Nearest-centroid cell id for a vector column (the IVF corpus-side
    * assignment): the native coarse-pruned kernel
    * ([[graft.plans.NearestCentroid]]). A √k triangle-inequality index
    * over the centroids evaluates ~2√k dots per row instead of k, while
    * returning EXACTLY the lexicographic (distance, cell) struct minimum
    * of the flat `array_min` composition [[cellAssignSql]] mirrors
    * (equivalence pinned by NearestCentroidSpec). At SemDeDup's
    * corpus-scaled k = n/250 this turns the corpus assignment stage
    * from O(n·k·d), a super-linear term, into O(n·√k·d).
    */
  def cellAssign(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftBridge.column(graft.plans.NearestCentroid(
      GraftBridge.expression(vec), centroids.map(_.toSeq).toSeq))

  /** The `nProbe` nearest cell ids for a vector column (query-side
    * multi-probe list for [[ivfTopKProbed]]): score structs sorted
    * lexicographically (distance, then cell id — a total order), then
    * sliced. k is small, so the array sort is per-row constant work.
    */
  def probeCells(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    require(nProbe >= 1 && nProbe <= centroids.length,
      s"nProbe must be in [1, ${centroids.length}], got $nProbe")
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(centroidScore(vec, c).as("d"), lit(i).as("cell"))
    }
    transform(
      slice(array_sort(array(scored.toIndexedSeq: _*)), 1, nProbe),
      s => s.getField("cell"))
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Exact SQL literal of a trained centroid after the `array<float>`
    * cast [[centroidScore]] applies: each element is the float value's
    * exact double (shortest round-trip `toString`, parsed back
    * bit-identically — the [[hyperplaneBucketSql]] rendering rule).
    */
  private def centroidLitSql(c: Array[Double]): String =
    c.map(_.toFloat.toDouble.toString).mkString("[", ", ", "]")

  /** SQL twin of [[centroidScore]] (`cc - 2·v·c`): the constant `c·c` is
    * folded driver-side in FloatArrayDot's exact order (float-cast
    * elements, left-fold double products) and rendered as one literal;
    * `v·c` folds per row in dimension order like [[cosineSql]].
    */
  def centroidScoreSql(vec: String, c: Array[Double]): String = {
    var cc = 0.0
    c.foreach { x => val f = x.toFloat.toDouble; cc += f * f }
    val vc = s"list_reduce(list_prepend(0.0, list_transform(" +
      s"list_zip($vec, ${centroidLitSql(c)}), " +
      s"p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, v) -> acc + v)"
    s"($cc - $vc * 2.0)"
  }

  /** `[[score, cellId], …]` literal-list for the argmin twins below:
    * lexicographic (distance, cell) — the same total order
    * [[cellAssign]]'s kernel and [[probeCells]]'s struct sort realize
    * on the Spark side.
    */
  private def scoredCellsSql(vec: String, centroids: Array[Array[Double]]): String =
    centroids.zipWithIndex
      .map { case (c, i) => s"[${centroidScoreSql(vec, c)}, $i.0]" }
      .mkString("[", ", ", "]")

  /** SQL twin of [[cellAssign]]: nearest-centroid id, ties to the lower
    * cell id (the kernel's lexicographic (distance, cell) minimum ≡
    * `list_sort(…)[1]` here).
    */
  def cellAssignSql(vec: String, centroids: Array[Array[Double]]): String =
    s"CAST(list_sort(${scoredCellsSql(vec, centroids)})[1][2] AS INTEGER)"

  /** SQL twin of [[probeCells]]: the `nProbe` nearest cell ids in
    * (distance, cell) order.
    */
  def probeCellsSql(vec: String, centroids: Array[Array[Double]], nProbe: Int): String =
    s"list_transform(list_slice(list_sort(${scoredCellsSql(vec, centroids)}), " +
      s"1, $nProbe), x -> CAST(x[2] AS INTEGER))"

  /** Random-hyperplane LSH bucket id (signed projections → sign bits).
    * Planes are a deterministic pseudo-random function of (plane, dim) so
    * executors need no shared state. Used to block cosine search/dedup
    * when no natural cell column exists.
    *
    * Native codegen expression ([[graft.plans.HyperplaneBucket]]): one
    * loop per row instead of a planes×dims `element_at` tree (256 nodes
    * at 4×64); accumulation order matches the column composition it
    * replaced, so bucket assignments are identical.
    */
  def hyperplaneBucket(vec: Column, planes: Int, dims: Int): Column =
    GraftBridge.column(graft.plans.HyperplaneBucket(
      GraftBridge.expression(vec), planes, dims))

  /** SQL twin of [[hyperplaneBucket]] for the DuckDB oracle: the plane
    * coefficients are a pure function of (plane, dim)
    * ([[graft.plans.HyperplaneExpr.coef]]), rendered here as double
    * literals (Java's shortest round-trip `toString`, parsed back to the
    * bit-identical double). Each projection multiplies float→double and
    * left-folds in dimension order — the same IEEE operation sequence as
    * the native expression, so bucket ids match exactly, not just
    * approximately.
    */
  def hyperplaneBucketSql(vec: String, planes: Int, dims: Int): String = {
    // both lists slice to min(len(vec), dims) BEFORE zipping: the native kernel clamps its loop to the input's length,
    // while an unclamped list_zip NULL-pads a short/long vector — the
    // projection nulls, every CASE falls to 0, and a corrupt row lands
    // in bucket 0 in the oracle but a real partial-projection bucket on
    // the Spark side
    val n = s"LEAST(len($vec), $dims)"
    val projs = (0 until planes).map { p =>
      val coefs = (0 until dims)
        .map(d => graft.plans.HyperplaneExpr.coef(p, d).toString)
        .mkString("[", ", ", "]")
      s"list_reduce(list_prepend(0.0, list_transform(" +
        s"list_zip($vec[1:$n], $coefs[1:$n]), " +
        s"pr -> CAST(pr[1] AS DOUBLE) * pr[2])), (acc, v) -> acc + v)"
    }
    projs.zipWithIndex
      .map { case (proj, p) => s"(CASE WHEN $proj > 0.0 THEN ${1L << p} ELSE 0 END)" }
      .mkString("(", " + ", ")")
  }
}
