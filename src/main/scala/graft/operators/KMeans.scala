package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed integer Lloyd k-means, the one Lloyd loop behind
  * q99, [[Similarity.trainKmeansCentroidsFull]] (flat: one parent) and
  * every deeper [[Ivf]] level (one parent per cell of the level above).
  * Each round has the canonical 100 TB shape:
  *
  *   - assignment is map-side: the centroids ride into the executors
  *     as a plan literal (one parent) or as a broadcast (parent →
  *     candidates) frame (many parents), O(k·dims) in corpus size;
  *   - the update is ONE partial-aggregated shuffle of (parent, cell,
  *     dim) keyed sums, k·dims groups whatever the corpus size;
  *   - only those sums reach the driver, which keeps the centroids
  *     between rounds (the per-round driver state discipline of BPE
  *     training, `Bpe.scala`).
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
  * Empty cells drop out and the survivors reindex densely per parent
  * (rank order), mirrored exactly by the SQL twin [[lloydSql]].
  */
object KMeans {

  /** Quantization scale: 2^13. Power of two ⇒ `x * Scale` is exact for
    * float32 inputs, so `floor` sees the true product and no
    * engine-specific rounding can diverge.
    */
  val Scale = 8192L

  /** Clamp bound 2^24 (exactly representable in double). Without a
    * clamp an out-of-range or NaN input diverges SILENTLY across
    * engines: Spark's non-ANSI double→long cast clamps to
    * Long.MaxValue (NaN → 0) while DuckDB's CAST(… AS BIGINT) throws.
    * Both engines agree on the clamped form — NaN sorts greatest in
    * both, so LEAST(GREATEST(NaN, −B), B) = B on both sides — provided
    * the clamp runs BEFORE floor: Spark's `floor` returns LONG and
    * converts NaN to 0 internally, while DuckDB's FLOOR keeps NaN.
    * Clamp-then-floor is identical for every finite input and maps
    * NaN/±Inf to ±B on both engines. The bound is 2^24 so the
    * integer-exact squared distance cannot overflow Long either:
    * per-dim t² ≤ (2·2^24)² = 2^50 and the sum stays below 2^63 for
    * any dims ≤ 8191 (8191·2^50 = 2^63 − 2^50; [[graft.plans.NearestCell]]
    * enforces the cap loudly). A wider bound lets t·t wrap negative for
    * a feature with |x| > ~3.7e5 and capture every row into the
    * overflowing cell. At Scale = 2^13 the clamp engages only beyond
    * |x| = 2048, far outside any normalized embedding.
    */
  val QBound: Long = graft.plans.NearestCellExpr.MaxAbsQ

  /** `floor(x_d * 2^13)` per dimension, clamped to ±2^24, as
    * `array<long>`. A NULL element coalesces to 0.0 BEFORE the clamp:
    * Spark's null-skipping greatest/least would otherwise pin a missing
    * dim to −QBound — full clamp weight in the distance — and DuckDB
    * versions where GREATEST(NULL, x) is NULL would diverge from that
    * silently; missing-means-0.0 is explicit, version-proof, and
    * mirrored. No trailing long cast: Spark's floor over a double
    * already returns LongType (the SQL twin's CAST AS BIGINT is the
    * load-bearing one).
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

  /** Runs `iters` Lloyd rounds for every parent cell of `seeds` and
    * returns each parent's final centroids, densely re-ranked in
    * old-cell order; a parent all of whose cells emptied is absent.
    * `xq` is a quantized vector ([[quantize]]) and `parent` an int
    * cell id; rows of a parent without seeds take no part.
    *
    * Ragged rows: a row whose length differs from the seeds' takes no
    * part in any round (the [[lloydSql]] twin filters it the same way).
    * The seeds themselves must share one length and lie inside the
    * quantization clamp, or the call fails before any round.
    *
    * With one parent the assignment is the [[assign]] literal kernel;
    * with more, each round broadcasts a (parent → candidates) frame
    * into the [[Ivf.nearestCandidate]] kernel. Both compute the same
    * exact distances and tie-breaks; on one parent the literal kernel
    * ran q99's three rounds at sf0.1 in a median 0.48 s against 0.61 s
    * for the broadcast join (4 cores, 24 runs a side).
    */
  def lloyd(rows: DataFrame, parent: Column, xq: Column,
      seeds: Map[Int, Seq[Seq[Long]]], iters: Int): Map[Int, Seq[Seq[Long]]] = {
    val lengths = seeds.valuesIterator.flatten.map(_.length).toSet
    require(lengths.size == 1,
      s"k-means seeds must share one length, got ${lengths.toSeq.sorted.mkString(", ")}")
    require(seeds.valuesIterator.flatten.flatten.forall(v => math.abs(v) <= QBound),
      s"k-means seeds must lie inside the quantization clamp ±$QBound")
    val spark = rows.sparkSession
    import spark.implicits._
    // the quantized projection is the loop invariant — cache it so
    // each round costs one assignment + one shuffle, not a fresh source
    // scan + quantize
    graft.Frames.scoped { s =>
      val cached = s.cache(rows
        .select(parent.cast("int").as("__parent"), xq.as("__xq"))
        .filter(size(col("__xq")) === lengths.head))
      var cents = seeds
      for (_ <- 0 until iters) {
        val assigned = cents.toSeq match {
          case Seq((p, cs)) =>
            cached.filter(col("__parent") === p)
              .select(col("__parent"), assign(col("__xq"), cs).as("__cell"), col("__xq"))
          case many =>
            val cands = many.map { case (p, cs) => (p, cs.zipWithIndex.map(_.swap)) }
              .toDF("__p", "__cands")
            cached.join(broadcast(cands), col("__parent") === col("__p"))
              .select(col("__parent"),
                Ivf.nearestCandidate(col("__xq"), col("__cands")).as("__cell"),
                col("__xq"))
        }
        // assignment MUST sit in its own projection below the explode:
        // fused into one select, ExtractGenerator hoists every
        // non-generator expression ABOVE the Generate, so the k-centroid
        // distance scan would re-evaluate once per exploded DIMENSION
        // (64x the work: 9.0 s vs 0.6 s per round at sf0.1)
        val upd = assigned
          .select(col("__parent"), col("__cell"),
            posexplode(col("__xq")).as(Seq("dim", "v")))
          .groupBy("__parent", "__cell", "dim")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
        // |v| ≤ QBound bounds |sum| ≤ n·QBound, so the Long sum is
        // provably exact while n ≤ Long.MaxValue/QBound (~5.5e11 rows
        // per cell); past that Spark's non-ANSI Long sum would wrap
        // SILENTLY while the oracle's HUGEINT doesn't — fail loudly
        // instead, like the 8191-dim distance bound above
        upd.foreach { case (p, cell, _, _, n) =>
          require(n <= Long.MaxValue / QBound,
            s"k-means cell $cell of parent $p holds $n rows: the per-(cell,dim) " +
              s"Long sum is only exact up to ${Long.MaxValue / QBound} rows — " +
              "shard the corpus or raise k")
        }
        // exact floored division on the driver (k*dims rows); empty
        // cells are simply absent and the survivors re-pack densely in
        // old-cell order — the SQL twin's dense_rank does the same
        cents = upd.groupBy(_._1).map { case (p, prows) =>
          p -> prows.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, crows) =>
            crows.sortBy(_._3).map(r => Math.floorDiv(r._4, r._5)).toSeq
          }
        }
      }
      cents
    }
  }

  /** The assignment + per-cell rollup DataFrame for trained centroids:
    * one row per surviving cell — count, min member id, and the first
    * two centroid coordinates (enough to pin the centroid values in an
    * oracle without 64 columns of output). Rows whose length differs
    * from the centroids' are left out, as in [[lloyd]].
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
      .filter(size(col(xqCol)) === centroids.head.length)
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
    *
    * Rows whose length differs from the smallest id's vector take no
    * part, the [[lloyd]] ragged-row rule.
    */
  def lloydSql(table: String, id: String, vec: String, k: Int,
      iters: Int): String = {
    val q =
      s"""q AS (
         |  SELECT $id AS vid, CAST(pos AS INTEGER) AS dim, ${quantizeSql("x")} AS v
         |  FROM (SELECT $id, unnest(range(0, len($vec))) AS pos,
         |               unnest($vec) AS x FROM $table
         |        WHERE len($vec) = (SELECT len($vec) FROM $table ORDER BY $id LIMIT 1))),
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
