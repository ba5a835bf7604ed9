package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hierarchical IVF codebook, two or three levels deep — the scale fix
  * for the flat trainers' O(k·d) seeding and per-row terms: at
  * SemDeDup's corpus-scaled k = n/250, a FLAT codebook costs
  * O(pool·k·d) driver work to seed
  * ([[Similarity.trainKmeansCentroidsFull]]) and O(k·d) distance work
  * per row, with every centroid a literal of the assign kernel.
  *
  * Structure: ⌈k^(1/depth)⌉ coarse centroids trained DISTRIBUTED
  * ([[KMeans.lloyd]] via [[Similarity.trainKmeansCentroidsFull]] —
  * driver seeding cost O(pool·k^(1/depth)·d)), then one or two deeper
  * levels, each trained by the same [[KMeans.lloyd]] loop over
  * per-parent bounded samples, one parent per cell of the level above.
  * Every deeper level is plain data: a cached (coarse, cell, c) frame
  * of at most k local rows keyed by its parent cell, joined at
  * assignment time and never a plan literal of the assign kernel:
  *
  *   - TRAIN: one corpus pass assigns coarse cells (the coarse plan
  *     literals, the [[graft.plans.NearestCentroid]] kernel), one
  *     window pass takes a deterministic hash-ordered sample per
  *     parent cell, and each Lloyd round of a level is a bounded-sample
  *     broadcast join + ONE (parent, cell, dim) partial-aggregated
  *     shuffle whose k·d sums the driver folds into the next centroids.
  *     An evicted level re-reads its k local rows; it never retrains.
  *   - ASSIGN: corpus rows get their coarse cell map-side, then join
  *     each level's (parent → candidates) frame in turn — AQE
  *     broadcasts it while it fits, and falls back to an equi-shuffle
  *     keyed by parent cell at extreme k — and the per-row argmin is
  *     the codegen'd [[graft.plans.NearestCandidate]] kernel over the
  *     joined candidate array.
  *
  * Depth is the per-row cost knob. At depth 2 a row costs Θ(√k·d): √k
  * coarse literals plus ~√k joined fine candidates, so with k ∝ n total
  * assignment work is n^1.5 — measured 3.20 s → 36.9 s for 10× data at
  * k = 800 → 8000. Depth 3 bounds the per-row term at Θ(3·k^⅓·d): at
  * k = 8000 that is 20+20+20 centroid distances per row instead of
  * ~90+90, measured 2.2× faster at k = 8000 and 2.5× at k = 32000 over
  * a 2M-row corpus (BENCH_SCALING.md), and the gap widens as k^(1/6).
  * [[DeepMinK]] is that crossover.
  *
  * Everything below the coarse level runs in [[KMeans.quantize]]'s
  * integer domain, so cells are bit-reproducible across
  * engines/partitionings/retries and a DuckDB oracle can hash-match the
  * assignment exactly (the codebook renders as literal BIGINT rows at
  * oracle time, through [[collectLevel]]).
  *
  * Incremental maintenance: because assignment is a pure per-row
  * function of (vector, codebook), a frozen codebook assigns a NEW
  * delta of embeddings independently of the already-indexed corpus —
  * `assign(delta) ∪ storedIndex` is row-identical to
  * `assign(corpus ∪ delta)` at every depth (pinned by q102's oracle and
  * IvfSpec). [[driftFraction]] is the retrain trigger: the share of
  * delta rows whose nearest-coarse distance exceeds a tolerance times
  * the training-time typical distance.
  */
object Ivf {

  /** The two→three-level threshold on k: the measured point where the
    * two-level assign's n^1.5 term dominates AND the three-level
    * assign wins 2.2× (BENCH_SCALING.md). [[Dedup.cellDepth]] applies
    * it.
    */
  val DeepMinK = 8000

  /** A trained codebook of depth `levels.size + 1`.
    *
    * @param coarse coarse centroids (float domain — the
    *               [[Similarity.cellAssign]] literals)
    * @param levels the deeper levels, coarse-most first: each a cached
    *               frame of at most k (coarse: int, cell: int, c:
    *               array<long> in the quantized domain) rows whose
    *               `coarse` is a cell id of the level above and whose
    *               `cell` is a global id `parent · per + rank` — sparse
    *               but bounded. A trained level holds local rows and a
    *               [[load]]ed one a parquet scan, so an evicted level is
    *               re-read, never retrained.
    */
  final case class Codebook(coarse: Array[Array[Double]],
      levels: Seq[DataFrame]) {
    require(levels.size == 1 || levels.size == 2,
      s"an IVF codebook has 2 or 3 levels, got ${levels.size + 1}")
    def dims: Int = coarse(0).length
    def depth: Int = levels.size + 1
    /** The leaf level — the cells [[assign]] and [[probeCells]] emit. */
    def fine: DataFrame = levels.last
    /** Releases the cached levels — the owner calls this when the
      * index is retired (e.g. replaced after a drift retrain). Safe
      * even if blocks were already evicted.
      */
    def release(): Unit = graft.Frames.release(levels: _*)
  }

  /** The codegen'd argmin over a joined candidate column (exact
    * integer distances, ties to the smaller cell id; NULL on empty or
    * corrupt candidates — see [[graft.plans.NearestCandidateExpr]]).
    */
  def nearestCandidate(xq: Column, cands: Column): Column =
    GraftBridge.column(graft.plans.NearestCandidate(
      GraftBridge.expression(xq), GraftBridge.expression(cands)))

  /** Exact integer squared distance between two `array<long>` columns
    * (NULL when lengths differ — zip_with's null-pad propagates). ONE
    * Column-side implementation, mirrored exactly by [[sqDistSql]]:
    * hand-copies of exactness-critical snippets drift.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** DuckDB twin of [[sqDist]]: exact BIGINT arithmetic, NULL on a
    * length mismatch (list_zip null-pads, the reduce propagates).
    */
  def sqDistSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |               list_transform(list_zip($a, $b),
       |                 p -> (p[1] - p[2]) * (p[1] - p[2]))),
       |               (acc, v) -> acc + v)""".stripMargin

  /** The (parent → sorted candidates) aggregation every level join
    * reads — single-sourced so the struct shape feeding
    * [[graft.plans.NearestCandidate]] and the probe scorer cannot
    * drift apart.
    */
  private def candsOf(level: DataFrame, candsCol: String,
      parentCol: String): DataFrame =
    level.groupBy("coarse")
      .agg(sort_array(collect_list(struct(col("cell"), col("c"))))
        .as(candsCol))
      .withColumnRenamed("coarse", parentCol)

  /** `x^(1/n)` for the branching factors: sqrt/cbrt rather than `pow`,
    * whose `27^(1/3)` lands above 3 and would ceil to 4.
    */
  private def root(x: Double, n: Int): Double = n match {
    case 1 => x
    case 2 => math.sqrt(x)
    case 3 => math.cbrt(x)
  }

  /** Trains a codebook of `depth` 2 or 3 with ≈ k leaf cells:
    * kc = ⌈k^(1/depth)⌉ coarse centroids, then `per` =
    * ⌈(k/kc)^(1/(depth−1))⌉ cells per parent at every deeper level
    * (kc the coarse count the trainer actually returned). Each level
    * trains on a bounded sample per parent cell; below the first
    * level the sample re-keys by its assigned parent and re-ranks, so
    * each parent gets its own deterministic seed order.
    *
    * Deterministic end-to-end: the coarse level inherits
    * [[Similarity.trainKmeansCentroidsFull]]'s seeded determinism; the
    * deeper levels sample by (xxhash64(id), id) rank — a data-only
    * total order — and run integer-exact [[KMeans.lloyd]] seeded with
    * each parent's first `per` sample rows. Rows whose vector length
    * differs from the coarse dims influence no deeper level.
    *
    * @param idCol row-unique integral id (sampling diversity under
    *              duplicate-heavy corpora — the flat trainers' rule).
    *              Integrality is ENFORCED: every consumer of a trained
    *              codebook keys its ledger by long, and a string id
    *              would cast to all-NULL there silently; pre-assign a
    *              dense long id for other types.
    */
  def train(corpus: DataFrame, vec: String, idCol: String, k: Int,
      depth: Int = 2, itersCoarse: Int = 4, itersLevel: Int = 3,
      perCellSampleMax: Int = 2000): Codebook = {
    Similarity.integralIdType(corpus, idCol)
    require(k >= 1, s"ivf train requires k >= 1, got $k")
    require(depth == 2 || depth == 3, s"ivf depth must be 2 or 3, got $depth")
    require(perCellSampleMax >= 1, s"perCellSampleMax out of range: $perCellSampleMax")
    val kc = math.max(1, math.ceil(root(k.toDouble, depth)).toInt)
    val coarse = Similarity.trainKmeansCentroidsFull(
      corpus, vec, kc, itersCoarse, idCol = Some(idCol))
    val per = math.max(1,
      math.ceil(root(k.toDouble / coarse.length, depth - 1)).toInt)

    def ranked(keyed: DataFrame): DataFrame =
      keyed.withColumn("__rank", row_number().over(
        Window.partitionBy("__parent")
          .orderBy(xxhash64(col("__id")), col("__id"))))
        .filter(col("__rank") <= perCellSampleMax)

    val spark = corpus.sparkSession
    import spark.implicits._
    graft.Frames.scoped { s =>
      var sampled = s.cache(ranked(
        corpus
          // a ragged vector would take a sample slot of its cell, and
          // as a seed it would fail the level's Lloyd loop
          .filter(size(col(vec)) === coarse(0).length)
          .select(col(idCol).as("__id"),
            Similarity.cellAssign(col(vec), coarse).as("__parent"),
            KMeans.quantize(col(vec)).as("__xq"))))
      val levels = (1 until depth).map { i =>
        val seeds = sampled.filter(col("__rank") <= per)
          .select(col("__parent"), col("__rank"), col("__xq"))
          .as[(Int, Int, Seq[Long])].collect()
          .groupBy(_._1).map { case (p, rows) => p -> rows.sortBy(_._2).map(_._3).toSeq }
        val cents = KMeans.lloyd(sampled, col("__parent"), col("__xq"), seeds, itersLevel)
        val level = s.keep(cents.toSeq.flatMap { case (p, cs) =>
            cs.zipWithIndex.map { case (c, sub) => (p, p * per + sub, c) }
          }.toDF("coarse", "cell", "c"))
        if (i < depth - 1) sampled = s.cache(ranked(
          sampled.join(candsOf(level, "__cands", "__cb_parent"),
              col("__parent") === col("__cb_parent"))
            .select(col("__id"),
              nearestCandidate(col("__xq"), col("__cands")).as("__parent"),
              col("__xq"))
            .filter(col("__parent").isNotNull)))
        level
      }
      Codebook(coarse, levels)
    }
  }

  /** Assigns every row its global leaf cell: map-side coarse assignment
    * (the coarse literals), then one parent-keyed candidate join and
    * codegen'd argmin per level — O(k^(1/depth)·d) work and plan bytes
    * per row at every hop. Rows that cannot assign (vector length
    * differs from the codebook's, or a cell with no deeper entries —
    * only possible for data outside the training distribution) carry
    * a NULL cell through every hop, visible to the caller rather than
    * silently binned.
    */
  def assign(df: DataFrame, vec: String, cb: Codebook,
      outCol: String = "cell"): DataFrame = {
    val tmp = "__ivf_xq" +: cb.levels.indices.flatMap(i =>
      Seq(s"__ivf_p$i", s"__ivf_c$i", s"__ivf_k$i"))
    tmp.foreach { c =>
      require(!df.columns.contains(c), s"input already carries $c")
    }
    val start = df
      .withColumn("__ivf_p0", Similarity.cellAssign(col(vec), cb.coarse))
      .withColumn("__ivf_xq", KMeans.quantize(col(vec)))
    cb.levels.zipWithIndex.foldLeft(start) { case (acc, (level, i)) =>
      val next = if (i == cb.levels.size - 1) outCol else s"__ivf_p${i + 1}"
      acc.join(candsOf(level, s"__ivf_c$i", s"__ivf_k$i"),
          col(s"__ivf_p$i") === col(s"__ivf_k$i"), "left")
        .withColumn(next, nearestCandidate(col("__ivf_xq"), col(s"__ivf_c$i")))
    }.drop(tmp: _*)
  }

  /** The coarse centroids re-quantized into [[KMeans.quantize]]'s
    * integer domain — ONE implementation of the clamp-before-floor
    * rule, shared by [[driftFraction]] and [[typicalCoarseD2]].
    */
  private def coarseQuantized(
      coarse: Array[Array[Double]]): Seq[(Int, Seq[Long])] =
    coarse.zipWithIndex.map { case (c, i) =>
      (i, c.map(x => math.floor(
        math.min(math.max(x * KMeans.Scale, -KMeans.QBound.toDouble),
          KMeans.QBound.toDouble)).toLong).toSeq)
    }.toSeq

  /** Squared distance (quantized domain) from `__xq` to the row's
    * `__c`-indexed coarse centroid. NULL when the vector's length
    * differs from the centroid's (zip_with null-pads).
    */
  private def coarseD2(cb: Codebook): Column =
    sqDist(col("__xq"),
      element_at(map_from_entries(typedLit(coarseQuantized(cb.coarse))),
        col("__c")))

  /** Query-side probe — the SEARCH half of the index (assignment alone
    * only builds it): each query row probes its `nProbe(0)` nearest
    * COARSE cells (float-domain, the coarse literals), then at every
    * deeper level scores the probed parents' entries and keeps the
    * `nProbe(i)` nearest, ending in an `array<int>` of leaf cells ready
    * for [[Similarity.ivfTopKProbed]]. `nProbe` holds one count per
    * level, coarse first. Per-query work is O(nProbe·k^(1/depth)·d) per
    * hop against joined codebook rows — the flat probe
    * ([[Similarity.probeCells]]) scans all k centroid literals, exactly
    * the O(k·d) plan/driver term this module removes. Integer-exact
    * scoring with (distance, cell) tie-breaks, so a DuckDB oracle
    * reproduces the probe lists bit-for-bit ([[probeSelectSql]] per
    * hop). Queries whose vector cannot score (ragged length) get an
    * EMPTY probe list.
    *
    * `idCol` must be a row-unique INTEGRAL id — integrality is enforced
    * (the downstream search keys by long, where a string id casts to
    * all-NULL silently). Row-uniqueness stays the caller's contract:
    * the per-query regroup keys on `idCol` alone (grouping on every
    * input column breaks on unorderable incidental columns and merges
    * rows differing only in float normalization), so rows SHARING an id
    * get one probe list computed over the UNION of their scored
    * candidates — each duplicate row receives that merged list through
    * the id-keyed join back (pinned by IvfSpec; a distributed
    * uniqueness assert would cost an extra full aggregation per call,
    * so the defined-merge behavior is documented instead).
    */
  def probeCells(queries: DataFrame, idCol: String, vec: String,
      cb: Codebook, nProbe: Seq[Int],
      outCol: String = "probes"): DataFrame = {
    Similarity.integralIdType(queries, idCol)
    require(nProbe.size == cb.depth,
      s"nProbe needs one count per level (${cb.depth}), got ${nProbe.size}")
    require(nProbe.head >= 1 && nProbe.head <= cb.coarse.length,
      s"coarse nProbe must be in [1, ${cb.coarse.length}], got ${nProbe.head}")
    require(nProbe.forall(_ >= 1), s"every nProbe must be >= 1: $nProbe")
    Seq("__ivf_q_xq", "__ivf_q_parent", "__ivf_q_cands", "__ivf_q_scored",
      "__ivf_q_cb_parent", "__ivf_q_all", "__ivf_q_hop", outCol)
      .foreach { c =>
        require(!queries.columns.contains(c), s"input already carries $c")
      }
    // quantization in a SEPARATE projection below the explode (the
    // ExtractGenerator hoist trap)
    val base = queries.select(col(idCol), col(vec))
      .withColumn("__ivf_q_xq", KMeans.quantize(col(vec)))
    val hops = cb.levels.zip(nProbe.tail)
    val leafParents = hops.init.foldLeft(
      base.withColumn("__ivf_q_parent",
        explode(Similarity.probeCells(col(vec), cb.coarse, nProbe.head)))) {
      case (probed, (level, n)) =>
        // explode drops queries whose list is empty (ragged vectors) —
        // the final left join + coalesce restores their empty probe list
        base.join(probeHop(probed, idCol, level, n, "__ivf_q_hop"), Seq(idCol))
          .withColumn("__ivf_q_parent", explode(col("__ivf_q_hop")))
          .drop("__ivf_q_hop")
    }
    val probes = probeHop(leafParents, idCol, hops.last._1, hops.last._2, outCol)
    queries.join(probes, Seq(idCol), "left")
      .withColumn(outCol,
        coalesce(col(outCol), array().cast("array<int>")))
  }

  /** One probe hop — the exactness-critical scoring every level of
    * [[probeCells]] shares (single-sourced so the integer scoring, NULL
    * exclusion, and (d, cell) total order cannot drift between levels;
    * the DuckDB twin is [[probeSelectSql]], reused per hop the same
    * way). Input rows carry (idCol, __ivf_q_xq, __ivf_q_parent) — one
    * row per (query, probed parent cell); output is one (idCol, outCol)
    * row per query whose probes scored, outCol = the `nProbe` nearest
    * `level` cells drawn from the probed parents' union. The probe
    * list is GLOBAL over that union — flatten, one total-order sort,
    * slice (collect_list order is nondeterministic; array_sort over
    * (d, cell) structs restores a data-only order).
    */
  private def probeHop(probed: DataFrame, idCol: String, level: DataFrame,
      nProbe: Int, outCol: String): DataFrame = {
    val cands = candsOf(level, "__ivf_q_cands", "__ivf_q_cb_parent")
    val scored = probed
      .join(cands, col("__ivf_q_parent") === col("__ivf_q_cb_parent"), "left")
      .withColumn("__ivf_q_scored",
        filter(
          transform(coalesce(col("__ivf_q_cands"),
            array().cast("array<struct<cell:int,c:array<bigint>>>")),
            cand => struct(
              sqDist(col("__ivf_q_xq"), cand.getField("c")).as("d"),
              cand.getField("cell").as("cell"))),
          s => s.getField("d").isNotNull))
    scored
      .groupBy(col(idCol))
      .agg(flatten(collect_list(col("__ivf_q_scored"))).as("__ivf_q_all"))
      .select(col(idCol),
        transform(slice(array_sort(col("__ivf_q_all")), 1, nProbe),
          s => s.getField("cell")).as(outCol))
  }

  /** SQL twin of one [[probeHop]] as a SELECT body over `qName` (must
    * expose q_id, xq and `parentListExpr` — the probed parent cells,
    * e.g. the rendered [[Similarity.probeCellsSql]] list): emits
    * (q_id, probes). Sort keys stay BIGINT end-to-end — a DOUBLE-cast
    * distance would tie-collapse past 2^53 on this side only — and
    * NULL distances (ragged vectors) are excluded like the Spark side's
    * filter (a fully-ragged query then has no row here ≡ an empty probe
    * list there: both contribute zero search candidates).
    */
  def probeSelectSql(qName: String, cbName: String, parentListExpr: String,
      nProbe: Int): String =
    s"""SELECT q_id, list_transform(
       |    list_slice(list_sort(list([d, cellb])), 1, $nProbe),
       |    x -> CAST(x[2] AS INTEGER)) AS probes
       |  FROM (
       |    SELECT qq.q_id,
       |           ${sqDistSql("qq.xq", s"$cbName.c")} AS d,
       |           CAST($cbName.cell AS BIGINT) AS cellb
       |    FROM (SELECT q_id, xq, unnest($parentListExpr) AS probe_coarse
       |          FROM $qName) qq
       |    JOIN $cbName ON $cbName.coarse = qq.probe_coarse) s
       |  WHERE d IS NOT NULL
       |  GROUP BY q_id""".stripMargin

  /** Retrain trigger for incremental maintenance: the fraction of delta
    * rows whose nearest-COARSE squared distance (quantized domain)
    * exceeds `tolerance²` times the codebook's per-cell typical
    * (training-time mean) squared distance. Distribution drift pushes
    * new points far from every trained centroid; assignment stays
    * well-defined (nearest cell always exists) but recall decays — this
    * quantifies it as one scan of the (small) delta. Rows that cannot
    * be scored against the codebook at all — a ragged vector length,
    * exactly what an upstream embedder regression produces — count as
    * FAR, like rows landing in a coarse cell the typical map has never
    * seen (both would otherwise null out of the numerator while staying
    * in the denominator).
    */
  def driftFraction(delta: DataFrame, vec: String, cb: Codebook,
      typicalD2: Map[Int, Double], tolerance: Double): Double = {
    require(tolerance > 0.0, s"tolerance must be positive: $tolerance")
    val spark = delta.sparkSession
    import spark.implicits._
    val typ = typicalD2.toSeq.toDF("__c", "__d2")
    val d = delta
      .select(Similarity.cellAssign(col(vec), cb.coarse).as("__c"),
        KMeans.quantize(col(vec)).as("__xq"))
      .join(broadcast(typ), Seq("__c"), "left")
      // a delta row landing in a coarse cell the typical map has never
      // seen IS drift — count it far (0.0 baseline), don't null it away
      .withColumn("__d2", coalesce(col("__d2"), lit(0.0)))
    val scored = d.withColumn("__d", coarseD2(cb))
    val row = scored.select(
      count(lit(1)).as("n"),
      count(when(col("__d").isNull ||
        col("__d").cast("double") > col("__d2") * tolerance * tolerance,
        lit(1))).as("far"))
      .collect()(0)
    val n = row.getLong(0)
    if (n == 0) 0.0 else row.getLong(1).toDouble / n
  }

  /** Per-coarse-cell mean squared distance AT TRAINING TIME — the
    * frozen baseline [[driftFraction]] compares against (compute it
    * once per retrain and carry it forward across incremental passes:
    * recomputing it over drifted data ratchets the baseline toward the
    * drift and the trigger never fires). One bounded-sample scan, keyed
    * by a row-unique id like every sampler here (hashing the vector
    * VALUE lets one duplicated embedding flood the sample and starve
    * most cells from the map).
    */
  def typicalCoarseD2(corpus: DataFrame, vec: String, idCol: String,
      cb: Codebook, sampleMax: Int = 10000): Map[Int, Double] = {
    val d = corpus
      .select(KMeans.quantize(col(vec)).as("__xq"),
        Similarity.cellAssign(col(vec), cb.coarse).as("__c"),
        xxhash64(col(idCol)).as("__h"), col(idCol).as("__id"))
      .sort(col("__h"), col("__id")).limit(sampleMax)
      .withColumn("__d", coarseD2(cb))
    d.filter(col("__d").isNotNull)
      .groupBy("__c").agg(avg(col("__d").cast("double")).as("__m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  // --- durable index state (incremental maintenance across restarts) --------

  /** On-disk level dirs by depth: `fine`, plus `mid` above it at depth 3. */
  private def levelDirs(depth: Int): Seq[String] =
    if (depth == 3) Seq("mid", "fine") else Seq("fine")

  /** Persists the codebook under `dir` (parquet: `coarse` as
    * (i, c double[]), each level as-is under [[levelDirs]]) — the index
    * state a daily-ingest compaction reloads instead of retraining
    * ([[graft.jobs.CorpusPrep.compactNearDups]]). Levels are ≤ k rows
    * of narrow integers: writing is O(k·d) DATA, never driver memory.
    */
  def save(cb: Codebook, dir: String): Unit = {
    val spark = cb.fine.sparkSession
    import spark.implicits._
    cb.coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("i", "c")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/coarse")
    // a stale `mid` from an earlier depth-3 save would make [[load]]
    // read this depth-2 state one level too deep
    val mid = new org.apache.hadoop.fs.Path(s"$dir/mid")
    mid.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mid, true)
    levelDirs(cb.depth).zip(cb.levels).foreach { case (name, level) =>
      level.write.mode("overwrite").parquet(s"$dir/$name")
    }
  }

  /** Loads the state [[save]] wrote: the presence of `mid` tells the
    * depth. States that also carry a `meta` dir (the id strides older
    * saves recorded) load unchanged — the level frames already hold
    * global cell ids, so nothing reads it.
    */
  def load(spark: SparkSession, dir: String): Codebook = {
    val coarse = spark.read.parquet(s"$dir/coarse")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    require(coarse.nonEmpty, s"no coarse centroids under $dir/coarse")
    val mid = new org.apache.hadoop.fs.Path(s"$dir/mid")
    val depth =
      if (mid.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mid)) 3
      else 2
    Codebook(coarse,
      levelDirs(depth).map(n => graft.Frames.cache(spark.read.parquet(s"$dir/$n"))))
  }

  // --- oracle-scale affordances ---------------------------------------------

  /** One codebook level's rows, sorted by (coarse, cell) — what the
    * oracles render and the tests compare.
    */
  def collectLevel(level: DataFrame): Seq[(Int, Int, Seq[Long])] =
    level.select(col("coarse"), col("cell"), col("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(r => (r._1, r._2))

  /** DuckDB CTE rendering the collected codebook as literal rows:
    * `name(coarse, cell, c)`.
    */
  def codebookCteSql(name: String, rows: Seq[(Int, Int, Seq[Long])]): String = {
    require(rows.nonEmpty, "empty codebook")
    val vals = rows.map { case (coarse, cell, c) =>
      s"($coarse, $cell, ${c.mkString("[", ", ", "]")}::BIGINT[])"
    }.mkString(",\n    ")
    s"$name(coarse, cell, c) AS (VALUES\n    $vals)"
  }

  /** SQL twin of the per-row integer argmin [[nearestCandidate]]
    * evaluates for one level, as a CTE body: `eName` must expose
    * (vec_id, coarse, xq); emits one (vec_id, cell) row per assignable
    * input row — exact BIGINT squared distance, ties to the smaller
    * cell id, rows whose parent cell has no codebook entries dropped by
    * the inner join (the Spark side filters its NULL cells identically).
    */
  def assignCteSql(eName: String, cbName: String): String =
    s"""SELECT vec_id, cell FROM (
       |    SELECT $eName.vec_id, $cbName.cell,
       |           ROW_NUMBER() OVER (PARTITION BY $eName.vec_id ORDER BY
       |             ${sqDistSql(s"$eName.xq", s"$cbName.c")},
       |             $cbName.cell) AS rn
       |    FROM $eName JOIN $cbName ON $eName.coarse = $cbName.coarse)
       |  WHERE rn = 1""".stripMargin

  /** SQL twin of [[KMeans.quantize]] over a whole list column. */
  def quantizeListSql(vec: String): String =
    s"list_transform($vec, x -> ${KMeans.quantizeSql("x")})"
}
