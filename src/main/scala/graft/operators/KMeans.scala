package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fully DISTRIBUTED Lloyd k-means over an embedding column — the
  * full-corpus complement of [[Similarity.trainKmeansCentroids]] (which
  * trains on a bounded driver-side sample for IVF/SemDeDup cell
  * assignment). Sample training keeps the driver flat but sees only
  * `sampleMax` vectors; this operator runs every Lloyd iteration over
  * the WHOLE corpus with the canonical 100 TB shape per iteration:
  *
  *   - assignment is map-side (centroids ride into the executors as an
  *     array-of-arrays literal — k·dims longs, O(1) in corpus size);
  *   - the centroid update is ONE partial-aggregated shuffle of
  *     (cell, dim) keyed sums — k·dims groups regardless of corpus
  *     size;
  *   - only the k·dims sums ever reach the driver (the same O(1)
  *     per-round driver state discipline as BPE training,
  *     `Bpe.scala`).
  *
  * Everything is computed in INTEGER arithmetic so the result is
  * bit-reproducible across engines, partitionings, and retries — the
  * q79 quantized-scoring discipline applied to clustering:
  *
  *   - inputs quantize by `floor(x * 2^13)` (exact in binary floating
  *     point — no rounding-mode divergence between engines; float32
  *     inputs stay well inside the long range);
  *   - distances are exact integer sums of squared differences; the
  *     argmin tie-breaks to the smallest cell index;
  *   - centroid updates use exact floored integer division
  *     (`(s - pmod(s, n)) / n`), so every iteration's centroids are
  *     integers again.
  *
  * Empty cells drop out and the survivors reindex densely (rank order),
  * mirrored exactly by the SQL twin [[lloydSql]].
  */
object KMeans {

  /** Quantization scale: 2^13. Power of two ⇒ `x * Scale` is exact for
    * float32 inputs, so `floor` sees the true product and no
    * engine-specific rounding can diverge.
    */
  val Scale = 8192L

  /** Clamp bound 2^24 (exactly representable in double): without a
    * clamp, an out-of-range or NaN input diverged SILENTLY across
    * engines — Spark's non-ANSI double→long cast clamps to
    * Long.MaxValue (NaN → 0) while DuckDB's CAST(… AS BIGINT) throws
    * (round-12 review). Both engines agree on the clamped form: NaN
    * sorts greatest in both, so LEAST(GREATEST(NaN, −B), B) = B on both
    * sides — PROVIDED the clamp runs BEFORE floor (round-12, second
    * pass): Spark's `floor` returns LONG and converts NaN to 0
    * internally, while DuckDB's FLOOR keeps NaN, so the old
    * floor-then-clamp order silently quantized NaN to 0 on Spark and B
    * on DuckDB. Clamp-then-floor is identical for every finite input
    * (both orders land on the same integer) and maps NaN/±Inf to ±B on
    * both engines. The bound is 2^24 — not the original 2^52 — so the
    * integer-exact squared distance CANNOT overflow Long either
    * (round-12 review, second pass): per-dim t² ≤ (2·2^24)² = 2^50 and
    * the sum stays below 2^63 for any dims ≤ 8191 (8191·2^50 =
    * 2^63 − 2^50; [[graft.plans.NearestCell]] enforces the cap loudly). Under
    * the old 2^52 bound a feature with |x| > ~3.7e5 wrapped t·t
    * negative and silently captured every row into the overflowing
    * cell while the BIGINT oracle errored. At Scale = 2^13 the clamp
    * engages only beyond |x| = 2048 — far outside any normalized
    * embedding, so in-range data is unchanged.
    */
  val QBound: Long = graft.plans.NearestCellExpr.MaxAbsQ

  /** `floor(x_d * 2^13)` per dimension, clamped to ±2^24, as
    * `array<long>`. A NULL element coalesces to 0.0 BEFORE the clamp
    * (round-12 review, third pass): Spark's null-skipping
    * greatest/least would otherwise pin a missing dim to −QBound —
    * full clamp weight in the distance — and DuckDB versions where
    * GREATEST(NULL, x) is NULL would diverge from that silently;
    * missing-means-0.0 is explicit, version-proof, and mirrored. No
    * trailing long cast: Spark's floor over a double already returns
    * LongType (the SQL twin's CAST AS BIGINT is the load-bearing one).
    */
  def quantize(vec: Column): Column =
    transform(vec, x =>
      floor(least(greatest(coalesce(x.cast("double"), lit(0.0)) * Scale.toDouble,
        lit(-QBound.toDouble)), lit(QBound.toDouble))))

  /** SQL twin of [[quantize]] at dim grain (the oracle works on
    * (id, dim, v) rows); clamp order mirrors the Column tree exactly.
    */
  def quantizeSql(x: String): String =
    s"CAST(FLOOR(LEAST(GREATEST(COALESCE(CAST($x AS DOUBLE), 0.0) * $Scale, " +
      s"-$QBound.0), $QBound.0)) AS BIGINT)"

  /** Nearest-centroid cell id (0-based, ties → smallest index) via the
    * native codegen expression [[graft.plans.NearestCell]] — one
    * primitive k×dims loop per row instead of ~k·dims boxed lambda
    * invocations of the equivalent `transform`+`aggregate`+`zip_with`
    * composition (the per-row assignment is the dominant cost of a
    * full-corpus clustering pass; the only shuffle is k·dims sums).
    */
  def assign(xq: Column, centroids: Seq[Seq[Long]]): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.NearestCell(
      GraftBridge.expression(xq), centroids))
  }

  /** Runs `iters` distributed Lloyd rounds and returns the final
    * (reindexed) centroids. `quantized` must carry `xq: array<long>`
    * (from [[quantize]]); `init` is the caller's deterministic seed set.
    */
  def lloyd(quantized: DataFrame, xqCol: String, init: Seq[Seq[Long]],
      iters: Int): Seq[Seq[Long]] = {
    // the quantized projection is the loop invariant — cache it so
    // each round costs one assignment + one shuffle, not a fresh source
    // scan + quantize
    graft.Frames.scoped { s =>
      val cached = s.cache(quantized)
      var cents = init
      for (_ <- 0 until iters) {
        // assignment MUST sit in its own projection below the explode:
        // fused into one select, ExtractGenerator hoists every
        // non-generator expression ABOVE the Generate, so the k-centroid
        // distance scan would re-evaluate once per exploded DIMENSION
        // (64x the work — round-8 tuning: 9.0 s vs 0.6 s per round at sf0.1)
        val upd = cached
          .select(assign(col(xqCol), cents).as("cell"), col(xqCol))
          .select(col("cell"), posexplode(col(xqCol)).as(Seq("dim", "v")))
          .groupBy("cell", "dim")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        // |v| ≤ QBound bounds |sum| ≤ n·QBound, so the Long sum is
        // provably exact while n ≤ Long.MaxValue/QBound (~5.5e11 rows
        // per cell); past that Spark's non-ANSI Long sum would wrap
        // SILENTLY while the oracle's HUGEINT doesn't — fail loudly
        // instead, like the 8191-dim distance bound above (round-13
        // review)
        upd.foreach { case (cell, _, _, n) =>
          require(n <= Long.MaxValue / QBound,
            s"k-means cell $cell holds $n rows: the per-(cell,dim) Long " +
              s"sum is only exact up to ${Long.MaxValue / QBound} rows — " +
              "shard the corpus or raise k")
        }
        // exact floored division on the driver (tiny: k*dims rows); empty
        // cells are simply absent and the survivors re-pack densely in
        // old-cell order — the SQL twin's dense_rank does the same
        cents = upd.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
          rows.sortBy(_._2).map(r => Math.floorDiv(r._3, r._4)).toSeq
        }
      }
      cents
    }
  }

  /** The assignment + per-cell rollup DataFrame for trained centroids:
    * one row per surviving cell — count, min member id, and the first
    * two centroid coordinates (enough to pin the centroid values in an
    * oracle without 64 columns of output).
    */
  def cellSummary(quantized: DataFrame, idCol: String, xqCol: String,
      centroids: Seq[Seq[Long]]): DataFrame = {
    require(centroids.forall(_.length >= 2),
      "cellSummary pins the first two centroid coordinates; vectors must have >= 2 dims")
    val spark = quantized.sparkSession
    import spark.implicits._
    val centDim = centroids.zipWithIndex
      .map { case (c, i) => (i, c(0), c(1)) }
      .toDF("cell", "c0", "c1")
    quantized
      .select(col(idCol).as("member"), assign(col(xqCol), centroids).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), min("member").as("first_member"))
      .join(broadcast(centDim), Seq("cell"))
      .orderBy("cell")
  }

  /** DuckDB mirror of the whole pipeline: quantize → `iters` unrolled
    * Lloyd rounds → final assignment rollup. Static SQL — the
    * determinism of the integer arithmetic means the oracle needs no
    * trained literals (contrast q89's [[GraftQuery.oracleDyn]]): both
    * engines re-derive identical centroids from the data alone.
    *
    * @param table  source table name
    * @param id     integral id column
    * @param vec    float-array embedding column
    * @param k      seed count: the k smallest ids' vectors
    */
  def lloydSql(table: String, id: String, vec: String, k: Int,
      iters: Int): String = {
    val q =
      s"""q AS (
         |  SELECT $id AS vid, CAST(pos AS INTEGER) AS dim, ${quantizeSql("x")} AS v
         |  FROM (SELECT $id, unnest(range(0, len($vec))) AS pos,
         |               unnest($vec) AS x FROM $table)),
         |cent0 AS (
         |  SELECT CAST(dense_rank() OVER (ORDER BY vid) - 1 AS INTEGER) AS cell,
         |         dim, v
         |  FROM q WHERE vid IN (SELECT $id FROM $table ORDER BY $id LIMIT $k))""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT vid, cell FROM (
         |    SELECT q.vid, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY q.vid
         |             ORDER BY SUM((q.v - c.v) * (q.v - c.v)), c.cell) AS rn
         |    FROM q JOIN cent${i - 1} c USING (dim)
         |    GROUP BY q.vid, c.cell) WHERE rn = 1),
         |cent$i AS (
         |  SELECT CAST(dense_rank() OVER (ORDER BY cell) - 1 AS INTEGER) AS cell,
         |         dim, v
         |  FROM (
         |    SELECT a$i.cell, q.dim,
         |      CAST((SUM(q.v) - ((SUM(q.v) % COUNT(DISTINCT a$i.vid) + COUNT(DISTINCT a$i.vid)) % COUNT(DISTINCT a$i.vid)))
         |           / COUNT(DISTINCT a$i.vid) AS BIGINT) AS v
         |    FROM q JOIN a$i USING (vid)
         |    GROUP BY a$i.cell, q.dim))""".stripMargin
    }.mkString(",\n")
    val last = iters
    s"""WITH $q,
       |$rounds,
       |afinal AS (
       |  SELECT vid, cell FROM (
       |    SELECT q.vid, c.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.vid
       |             ORDER BY SUM((q.v - c.v) * (q.v - c.v)), c.cell) AS rn
       |    FROM q JOIN cent$last c USING (dim)
       |    GROUP BY q.vid, c.cell) WHERE rn = 1)
       |SELECT s.cell, s.n, s.first_member, cd.c0, cd.c1
       |FROM (SELECT cell, COUNT(*) AS n, MIN(vid) AS first_member
       |      FROM afinal GROUP BY cell) s
       |JOIN (SELECT cell, MIN(CASE WHEN dim = 0 THEN v END) AS c0,
       |             MIN(CASE WHEN dim = 1 THEN v END) AS c1
       |      FROM cent$last GROUP BY cell) cd USING (cell)
       |ORDER BY s.cell""".stripMargin
  }
}
