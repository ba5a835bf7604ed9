package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Frames, GraftQuery, Tables}
import graft.GraftQuery._
import graft.functions.{Corpus, Hashing, TextAnalysis}
import graft.operators.{Dedup, Ivf, Similarity}

/** Training-data pipeline battery over `documents`/`embeddings`: exact +
  * sketch-based dedup, ANN similarity search, and text analysis — the
  * 100 TB-pipeline extensions the brief requires as first-class
  * operators. Every DuckDB oracle is *generated from the same hash
  * constants* as the Spark plan (graft.functions.Hashing), so both
  * engines evaluate the identical integer function and compare exactly.
  */
object TrainingData {

  import Tables._

  private val W = Hashing.wordsSql("text")

  /** Exact dedup by normalized content key (A12 shape,
    * 01_create_file_index.R:69-75): one hash shuffle; at 100 TB this is
    * groupBy(xxhash64(key)) with the same plan.
    */
  private val q41 = GraftQuery(
    "q41_exact_dedup",
    (s, d) => {
      import s.implicits._
      Dedup.exactGroups(
          documents(s, d), "doc_id",
          array_join(slice(Hashing.words($"text"), 1, 8), " "))
        .orderBy($"dup_key")
    },
    Some(s"""
      SELECT array_to_string($W[1:8], ' ') AS dup_key,
             COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM documents
      GROUP BY 1
      HAVING COUNT(*) > 1
      ORDER BY 1"""))

  private def shingleBaseSql(src: String = "documents") = {
    val sh = Hashing.shinglesSql("w", 5)
    s"""w AS (SELECT doc_id, $W AS w FROM $src),
      base AS (
        SELECT doc_id, sh, ${Hashing.tokHashesSql("sh")} AS th
        FROM (SELECT doc_id, $sh AS sh FROM w) t
        WHERE len(sh) > 0)"""
  }

  private def jaccardSql(a: String, b: String) =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / (len($a) + len($b) - len(list_intersect($a, $b)))"

  /** Banded-MinHash candidate CTEs (`banded` + `cand`), shared by q42's
    * oracle and [[lshLabelChainSql]] (round-13 review): two verbatim
    * copies of the band-key packing — which must also track
    * [[Dedup.minhashLshPairs]] — could drift independently.
    */
  /** `SELECT DISTINCT` (id_a < id_b) candidate pairs from a banded
    * source — one text shared by the uncapped and capped chains.
    */
  private def candFromSql(src: String, name: String): String =
    s"""$name AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM $src x JOIN $src y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""

  /** The capped candidate chain over an existing `banded` CTE,
    * mirroring [[Dedup.capBuckets]] exactly: buckets holding MORE than
    * `cap` members drop from candidate generation (hot via HAVING >
    * cap, kept via NOT EXISTS ≡ the Spark left_anti). `suffix` lets
    * several variants share one WITH (q106 compares capped against
    * uncapped over the same banding).
    */
  private def cappedCandSql(cap: Int, suffix: String = ""): String =
    s"""hot$suffix AS (
        SELECT band, key FROM banded GROUP BY band, key HAVING COUNT(*) > $cap),
      kept$suffix AS (
        SELECT b.doc_id, b.band, b.key FROM banded b
        WHERE NOT EXISTS (
          SELECT 1 FROM hot$suffix h WHERE h.band = b.band AND h.key = b.key)),
      ${candFromSql(s"kept$suffix", s"cand$suffix")}"""

  private def minhashBandCandSql(cap: Option[Int] = None): String = {
    val bands = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, ${Hashing.minhashSql("th", 2 * b)} * ${Hashing.MinP} + " +
        s"${Hashing.minhashSql("th", 2 * b + 1)} AS key FROM base"
    }.mkString("\n        UNION ALL ")
    s"""banded AS (
        $bands),
      ${cap.fold(candFromSql("banded", "cand"))(c => cappedCandSql(c))}"""
  }

  /** MinHash+LSH near-dup detection (Broder sketch; scales as
    * O(n·bands) instead of O(n²)) — [[Dedup.minhashLshPairs]].
    */
  private val q42 = GraftQuery(
    "q42_minhash_lsh_dedup",
    (s, d) => {
      import s.implicits._
      Dedup.minhashLshPairs(documents(s, d), "doc_id", "text")
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Some {
      s"""
      WITH ${shingleBaseSql()},
      ${minhashBandCandSql()}
      SELECT id_a, id_b, ROUND(${jaccardSql("xa.sh", "xb.sh")}, 4) AS jaccard
      FROM cand
      JOIN base xa ON id_a = xa.doc_id
      JOIN base xb ON id_b = xb.doc_id
      WHERE ${jaccardSql("xa.sh", "xb.sh")} >= 0.5
      ORDER BY id_a, id_b"""
    })

  /** SimHash near-dup detection (Charikar sketch): 64-bit signature,
    * 4×16-bit banded candidates (65,536-way key space per band — the
    * scale-safe variant), Hamming verify — [[Dedup.simhashPairs]].
    */
  private val q43 = GraftQuery(
    "q43_simhash_dedup",
    (s, d) => {
      import s.implicits._
      Dedup.simhashPairs(documents(s, d), "doc_id", "text")
        .orderBy($"id_a", $"id_b")
    },
    Some {
      val bands = (0 until 4).map { b =>
        s"SELECT doc_id, sig, $b AS band, (sig >> ${16 * b}) & 65535 AS key FROM sigs"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH ${shingleBaseSql()},
      sigs AS (SELECT doc_id, ${Hashing.simhash64Sql("th")} AS sig FROM base),
      banded AS (
        $bands),
      cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
               x.sig AS sig_a, y.sig AS sig_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
      SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
      FROM cand
      WHERE bit_count(xor(sig_a, sig_b)) <= 3
      ORDER BY id_a, id_b"""
    })

  /** Exact n-gram-Jaccard dedup via inverted-index candidates —
    * [[Dedup.ngramJaccardPairs]]. The oracle enumerates all pairs (any
    * pair at J ≥ 0.5 necessarily shares a shingle, so the sets agree).
    */
  private val q44 = GraftQuery(
    "q44_ngram_jaccard_dedup",
    (s, d) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text")
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""
      WITH ${shingleBaseSql()}
      SELECT xa.doc_id AS id_a, xb.doc_id AS id_b,
             ROUND(${jaccardSql("xa.sh", "xb.sh")}, 4) AS jaccard
      FROM base xa JOIN base xb ON xa.doc_id < xb.doc_id
      WHERE ${jaccardSql("xa.sh", "xb.sh")} >= 0.5
      ORDER BY id_a, id_b"""))

  /** Cell count for the embedding-dedup family, scaled with the corpus
    * so expected cell population stays ~250 and within-cell pair work
    * stays LINEAR in corpus size — the SemDeDup paper's own recipe
    * (100M+ docs into 50k clusters) and the operator's documented
    * contract. A fixed K made pair counts quadratic: the sf1 decade
    * measured q45 at 45× / q91 at 14.6× per 10× of data with it, and
    * 9.6× / 7.8× with scaled K — sub-linear, approaching the
    * row-linear asymptote the now-linear pair stage implies
    * (BENCH_SCALING.md).
    */
  private def scaledK(n: Long): Int = math.max(8L, (n + 249) / 250).toInt

  /** One sampled-trainer run per (session, dir), shared by q45 and q91
    * and by each query's plan lambda + oracleDyn
    * ([[GraftQuery.SessionMemo]]).
    */
  private val dedupCents = new GraftQuery.SessionMemo[Array[Array[Double]]]({ (s, d) =>
    val e = embeddings(s, d)
    Similarity.trainKmeansCentroids(
      e, "embedding", scaledK(e.count()), idCol = Some("vec_id"))
  })

  /** The SemDeDup query family's cell model at the [[Dedup.cellDepth]]
    * tier for the corpus-scaled k ([[scaledK]]): the FLAT sampled
    * centroids at bench-SF k (8 everywhere up to sf0.1, 80 at sf1 —
    * q45's [[dedupCents]] memo, the measured-faster branch there), a
    * two-level codebook past [[Dedup.FlatMaxK]] (sf10's k = 800 on),
    * three levels from [[Ivf.DeepMinK]] (sf100's k = 8000). Codebooks
    * are parquet-backed ([[Ivf.durable]]), so a cache eviction mid-session
    * re-reads a k-row snapshot instead of re-training. Every branch is
    * deterministic, so oracleDyn re-derives the identical model at
    * render time.
    */
  private val dedupModel = new GraftQuery.SessionMemo[
      Either[Array[Array[Double]], Ivf.Codebook]](
    { (s, d) =>
      val e = embeddings(s, d)
      val k = scaledK(e.count())
      Dedup.cellDepth(k) match {
        case 1 => Left(dedupCents(s, d))
        case depth =>
          Right(Ivf.durable(Ivf.train(e, "embedding", "vec_id", k, depth)))
      }
    },
    close = _.foreach(_.release()))

  /** Embedding-cosine near-dup within (label × trained-cell) blocks —
    * [[Dedup.embeddingNearDupPairs]] with the candidate space bounded
    * the way every dedup path here is: label alone is a FIXED-cardinality
    * key, so label-only blocking grows pairs quadratically with the
    * corpus (measured 45× per 10× of data at the sf1 decade, round 13;
    * 9.6× after this fix);
    * composing it with corpus-scaled k-means cells ([[scaledK]]) keeps
    * cell populations bounded and pair work linear. Recall contract:
    * a pair is reported iff both sides share label AND nearest cell —
    * the same same-cell contract q91/SemDeDup documents. Deterministic
    * fold-order cosine on both engines; centroids re-derived identically
    * at oracle-render time ([[GraftQuery.oracleDyn]]).
    */
  private val q45 = GraftQuery(
    "q45_embedding_neardup",
    (s, d) => {
      import s.implicits._
      val blocked = embeddings(s, d)
        .withColumn("__cell",
          Similarity.cellAssign(col("embedding"), dedupCents(s, d)))
        .withColumn("__lblcell",
          concat_ws("_", col("label"), col("__cell")))
      Dedup.embeddingNearDupPairs(
          blocked, "vec_id", "embedding",
          minCosine = 0.3, blockCol = Some("__lblcell"))
        .select($"id_a", $"id_b", round($"cosine", 6).as("cosine"))
        .orderBy($"id_a", $"id_b")
    },
    oracleDyn = Some { (s, d) =>
      val cs = dedupCents(s, d)
      s"""
      WITH c AS (
        SELECT vec_id, label, embedding,
               ${Similarity.cellAssignSql("embedding", cs)} AS cell
        FROM embeddings
        WHERE ${Similarity.nonZeroNormSql("embedding")})
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) AS cosine
      FROM c a JOIN c b
        ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ${Similarity.cosineSql("a.embedding", "b.embedding")} >= 0.3
      ORDER BY id_a, id_b"""
    })

  /** Brute-force cosine top-k ANN baseline — [[Similarity.bruteForceTopK]]
    * (broadcast queries, one corpus scan, per-query window).
    */
  private val q46 = GraftQuery(
    "q46_ann_topk",
    (s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val queries = e.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      Similarity.bruteForceTopK(queries, e,
          "q_id", "q_vec", "vec_id", "embedding", k = 5)
        .select($"query_id", $"neighbor_id", $"rank", round($"cosine", 6).as("cosine"))
        .orderBy($"query_id", $"rank")
    },
    Some(s"""
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY ${Similarity.cosineSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank,
        ROUND(${Similarity.cosineSql("q.embedding", "c.embedding")}, 6) AS cosine
      FROM (SELECT * FROM embeddings
            WHERE vec_id < 5 AND ${Similarity.nonZeroNormSql("embedding")}) q
      JOIN (SELECT * FROM embeddings
            WHERE ${Similarity.nonZeroNormSql("embedding")}) c
        ON q.vec_id <> c.vec_id
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  /** Language-ID confusion matrix (lexicon-hit argmax with deterministic
    * tie-break) — [[TextAnalysis.langId]].
    */
  private val q47 = GraftQuery(
    "q47_langid_confusion",
    (s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("predicted", TextAnalysis.langId(Hashing.words($"text")))
        .groupBy($"lang", $"predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"predicted")
    },
    Some(s"""
      SELECT lang, ${TextAnalysis.langIdSql(W)} AS predicted, COUNT(*) AS n
      FROM documents
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Quality scoring + banding — [[TextAnalysis.qualityScore]]. */
  private val q48 = GraftQuery(
    "q48_quality_score",
    (s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("q", TextAnalysis.qualityScore(Hashing.words($"text")))
        .withColumn("band",
          when($"q" >= 0.8, "high").when($"q" >= 0.5, "mid").otherwise("low"))
        // floor to integer micro-units: floor of a bit-identical double is
        // engine-stable, unlike round(.., n) whose tie handling differs
        .groupBy($"source", $"band")
        .agg(count(lit(1)).as("n"),
          sum(floor($"q" * 1e6).cast("long")).as("sum_q_micro"))
        .orderBy($"source", $"band")
    },
    Some(s"""
      SELECT source, band, COUNT(*) AS n,
        CAST(SUM(CAST(FLOOR(q * 1000000) AS BIGINT)) AS BIGINT) AS sum_q_micro
      FROM (
        SELECT source,
          CASE WHEN q >= 0.8 THEN 'high' WHEN q >= 0.5 THEN 'mid' ELSE 'low' END AS band, q
        FROM (SELECT source, ${TextAnalysis.qualityScoreSql(W)} AS q
              FROM documents) t) b
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Token counting: whitespace words + BPE-ish regex pieces —
    * [[TextAnalysis.bpeTokenCount]].
    */
  private val q49 = GraftQuery(
    "q49_token_count",
    (s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("ws_tokens", size(Hashing.words($"text")).cast("long"))
        .withColumn("bpe_tokens", TextAnalysis.bpeTokenCount($"text").cast("long"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"ws_tokens").as("sum_ws_tokens"),
          sum($"bpe_tokens").as("sum_bpe_tokens"))
        .orderBy($"source")
    },
    Some(s"""
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len($W)) AS BIGINT) AS sum_ws_tokens,
        CAST(SUM(${TextAnalysis.bpeTokenCountSql("text")}) AS BIGINT) AS sum_bpe_tokens
      FROM documents
      GROUP BY 1
      ORDER BY 1"""))

  /** Document fingerprinting (rolling hash of the normalized content key)
    * — [[Hashing.fingerprint]]: same groups as q41 but through a 1-word
    * integer identity, the form that scales to content-addressed dedup.
    */
  private val q50 = GraftQuery(
    "q50_fingerprint_dups",
    (s, d) => {
      import s.implicits._
      documents(s, d)
        .withColumn("fp",
          Hashing.fingerprint(array_join(slice(Hashing.words($"text"), 1, 8), " ")))
        .groupBy($"fp")
        .agg(count(lit(1)).as("n"), min($"doc_id").as("keeper"))
        .filter($"n" > 1)
        .orderBy($"fp")
    },
    Some(s"""
      SELECT ${Hashing.fingerprintSql(s"array_to_string($W[1:8], ' ')")} AS fp,
             COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM documents
      GROUP BY 1
      HAVING COUNT(*) > 1
      ORDER BY 1"""))

  /** A3 mean±sd + exact quantiles per group (monthly mean/sd spec at
    * Rmd:1200-1204; distribution summaries). Spark `percentile` and
    * DuckDB `quantile_cont` both interpolate linearly; mean/stddev are
    * computed from decimal moment sums — the built-in streaming stddev
    * differs across engines in the last bits.
    */
  private val q51 = GraftQuery(
    "q51_percentiles",
    (s, d) => {
      import s.implicits._
      lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          count(lit(1)).as("n"),
          dsum($"l_quantity").as("sx"),
          dsum($"l_quantity" * $"l_quantity", D4).as("sxx"))
        .withColumn("mean", round($"sx" / $"n", 6))
        // n > 1 gate on BOTH engines (round-13 review): Spark 4 ANSI
        // throws DIVIDE_BY_ZERO for DOUBLE division too (pinned in
        // OracleMirrorSpec), so a single-row group's (n-1)=0 divisor
        // would abort the whole run while DuckDB answered NaN
        .withColumn("sd", when($"n" > 1, round(
          sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)), 6)))
        .select($"l_returnflag", $"p25", $"p50", $"p90", $"n", $"mean", $"sd")
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag, p25, p50, p90, n,
        ROUND(sx / n, 6) AS mean,
        CASE WHEN n > 1
          THEN ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) END AS sd
      FROM (
        SELECT l_returnflag,
          ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
          ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
          ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90,
          COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        FROM lineitem
        GROUP BY 1) t
      ORDER BY 1"""))

  /** Near-dup pairs → connected-component clusters ([[Dedup.dupClusters]]):
    * per cluster the canonical keeper (min id) and member count. The
    * oracle walks the same edges with a recursive CTE.
    */
  /** Shared oracle for both cluster queries: the branch choice inside
    * [[Dedup.dupClusters]] must never change the labels, so q52 (driver
    * union-find at this SF) and q75 (forced distributed pointer-jumping)
    * hash against the IDENTICAL recursive-CTE component walk.
    */
  /** CTE chain over `src` (doc_id, text): shingle fingerprints → LSH
    * bands → candidate pairs → Jaccard-verified edges → recursive
    * component walk → `labels (id, cluster)`. Embed after a
    * `WITH RECURSIVE`; shared by q52/q75 (src = documents) and the q95
    * CorpusPrep ledger (src = its exact-dedup CTE).
    */
  private def lshLabelChainSql(src: String,
      cap: Option[Int] = None): String = {
    s"""${shingleBaseSql(src)},
      ${minhashBandCandSql(cap)},
      pairs AS (
        SELECT id_a, id_b
        FROM cand JOIN base xa ON id_a = xa.doc_id JOIN base xb ON id_b = xb.doc_id
        WHERE ${jaccardSql("xa.sh", "xb.sh")} >= 0.5),
      edges AS (
        SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT id_a AS id, id_b AS peer FROM edges
        UNION
        SELECT r.id, e.id_b FROM reach r JOIN edges e ON r.peer = e.id_a),
      labels AS (
        SELECT id, LEAST(id, MIN(peer)) AS cluster FROM reach GROUP BY id)"""
  }

  private def clusterSizesSql(cap: Option[Int] = None): String =
    s"""
      WITH RECURSIVE ${lshLabelChainSql("documents", cap)}
      SELECT cluster, COUNT(*) AS n_members
      FROM labels
      GROUP BY 1
      ORDER BY 1"""

  private val q52 = GraftQuery(
    "q52_dedup_clusters",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshPairs(documents(s, d), "doc_id", "text")
      Dedup.dupClusters(pairs)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"cluster")
    },
    Some(clusterSizesSql()))

  /** Int8 embedding quantization ([[Similarity.quantizeInt8]] — the 4×
    * compression an ANN index at 100 TB stores instead of float32):
    * per label, integer-exact quantization stats — total L1 mass, signed
    * sum, and saturated-element count (every nonzero vector saturates at
    * least its max element to ±127, so n_sat ≥ n_vecs). Map-side HOF
    * expressions, one rollup shuffle; everything summed is an integer,
    * so both engines hash-match bit-exactly.
    */
  private val q79 = GraftQuery(
    "q79_embedding_quantize",
    (s, d) => {
      import s.implicits._
      val q = Similarity.quantizeInt8($"embedding")
      embeddings(s, d)
        .select($"label", q.as("q"))
        .select($"label",
          aggregate(transform($"q", x => abs(x).cast("long")),
            lit(0L), (a, b) => a + b).as("ql1"),
          aggregate($"q", lit(0L), (a, b) => a + b).as("qsum"),
          size(filter($"q", x => abs(x) === 127)).cast("long").as("nsat"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          sum($"ql1").as("sum_l1"),
          sum($"qsum").as("sum_q"),
          sum($"nsat").as("n_sat"))
        .orderBy($"label")
    },
    Some {
      // null-PROPAGATING reduce, not list_sum (round-14 review — the
      // round-12 intDotSql class): list_sum SKIPS null elements, so a
      // corrupt embedding with one null component would contribute a
      // finite partial sum here while the Spark aggregate fold nulls
      // the whole row's ql1/qsum out of the group sums
      def lsum(expr: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), $expr), (a, v) -> a + v)"
      s"""
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(${lsum("list_transform(q, x -> CAST(abs(x) AS BIGINT))")}) AS BIGINT)
          AS sum_l1,
        CAST(SUM(${lsum("list_transform(q, x -> CAST(x AS BIGINT))")}) AS BIGINT)
          AS sum_q,
        CAST(SUM(len(list_filter(q, x -> abs(x) = 127))) AS BIGINT) AS n_sat
      FROM (SELECT label, ${Similarity.quantizeInt8Sql("embedding")} AS q
            FROM embeddings) t
      GROUP BY 1
      ORDER BY 1"""
    })

  /** Bigram-LM corpus scoring (the CCNet-style perplexity-proxy filter):
    * a bigram language model trained on the corpus itself — smoothed
    * conditional log-probs `ln((c2+1) / (c1+V))` averaged per document;
    * low scores mark incoherent/TEMPLATED text a quality gate drops.
    * Plan: two count shuffles build the LM (unigram + bigram, map-side
    * combined), then the doc-gram stream joins the LM keyed BY GRAM —
    * a shuffle join that scales with vocabulary, never a driver-side
    * model (AQE broadcasts it while it is small). Exactness: counts are
    * integers, `ln` of an exact ratio follows the q38 precedent
    * (cross-engine-identical in practice), per-gram values round to 12
    * before the exact decimal sum, the average rounds to 6.
    */
  private val q81 = GraftQuery(
    "q81_lm_score",
    (s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      // scan accounting (round-12 review): uni fed BOTH the vocab agg
      // and the LM join, and bi re-scanned the corpus for counts dg
      // already carries — 4 corpus scans per action. Checkpointing the
      // two distinct streams (word-grain uni, bigram-grain dg) and
      // deriving bi/vocab from them cuts that to 2; uni is vocab-sized
      // and dg is the windowFp-precedent O(total tokens) frame.
      val uni = Frames.pin(docs.select(explode(Hashing.words($"text")).as("w1"))
        .groupBy($"w1").agg(count(lit(1)).as("c1")))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val dg = Frames.pin(docs.select($"doc_id",
          explode(graft.functions.Corpus.ngrams(Hashing.words($"text"), 2)).as("g")))
      val bi = dg.groupBy($"g").agg(count(lit(1)).as("c2"))
      dg.join(bi, Seq("g"))
        .join(uni, substring_index($"g", " ", 1) === $"w1")
        .crossJoin(broadcast(vocab))
        .withColumn("lp", round(
          log(($"c2" + 1L).cast("double") / ($"c1" + $"v").cast("double")), 12))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(dsum($"lp", D12) / count(lit(1)), 6).as("avg_lp"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH uni AS (
        SELECT w1, COUNT(*) AS c1
        FROM (SELECT unnest($W) AS w1 FROM documents) t
        GROUP BY 1),
      vocab AS (SELECT COUNT(*) AS v FROM uni),
      bi AS (
        SELECT g, COUNT(*) AS c2
        FROM (SELECT unnest(${graft.functions.Corpus.ngramsSql(W, 2)}) AS g
              FROM documents) t
        GROUP BY 1),
      dg AS (
        SELECT doc_id, unnest(${graft.functions.Corpus.ngramsSql(W, 2)}) AS g
        FROM documents),
      scored AS (
        SELECT doc_id,
          ROUND(LN(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 12) AS lp
        FROM dg
        JOIN bi USING (g)
        JOIN uni ON split_part(g, ' ', 1) = w1
        CROSS JOIN vocab)
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ROUND(CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
          AS avg_lp
      FROM scored
      GROUP BY 1
      ORDER BY 1"""))

  /** Quantized ANN ([[Similarity.quantizedTopK]]): q46's brute-force
    * top-k re-ranked over int8 vectors — scales cancel in cosine, so
    * every score input is an exact integer and the cosine doubles are
    * bit-identical across engines (no ROUND needed, unlike q45/q46's
    * float-fold cosines). The quantization changes WHICH neighbors
    * surface (that's the compression trade); determinism it does not.
    */
  private val q80 = GraftQuery(
    "q80_ann_quantized",
    (s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
      val queries = e.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      Similarity.quantizedTopK(queries, e,
          "q_id", "q_vec", "vec_id", "embedding", k = 5)
        .select($"query_id", $"neighbor_id", $"rank", $"cosine")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""
      WITH qe AS (
        SELECT vec_id, q, ${Similarity.intDotSql("q", "q")} AS n2
        FROM (SELECT vec_id, ${Similarity.quantizeInt8Sql("embedding")} AS q
              FROM embeddings) t)
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY ${Similarity.quantizedCosineSql("q.q", "c.q", "q.n2", "c.n2")} DESC,
            c.vec_id) AS rank,
        ${Similarity.quantizedCosineSql("q.q", "c.q", "q.n2", "c.n2")} AS cosine
      FROM (SELECT * FROM qe WHERE vec_id < 5 AND n2 > 0) q
      JOIN (SELECT * FROM qe WHERE n2 > 0) c ON q.vec_id <> c.vec_id
      QUALIFY rank <= 5
      ORDER BY query_id, rank"""))

  /** The distributed pointer-jumping branch of [[Dedup.dupClusters]],
    * forced (`driverMaxEdges = 0`) so the 100 TB code path is
    * oracle-checked and benched at every SF, not just exercised by
    * DupClusterSpec's fixture: min-label propagation + pointer jumping,
    * O(log d) rounds, loud non-convergence. Labels must be identical to
    * q52's driver branch — same SQL mirror.
    */
  private val q75 = GraftQuery(
    "q75_dedup_clusters_distributed",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshPairs(documents(s, d), "doc_id", "text")
      Dedup.dupClusters(pairs, driverMaxEdges = 0L)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"cluster")
    },
    Some(clusterSizesSql()))

  /** Approximate sketch tier — the exact queries' 100 TB swap-ins
    * (q16's countDistinct → HLL, q51's percentile → GK sketch). Sketch
    * VALUES differ across engines by design, so the oracle checks the
    * deterministic *acceptance criteria* instead: the exact sides
    * (count-distinct, counts) recomputed by DuckDB, plus tolerance
    * booleans the oracle pins to TRUE — HLL within ±5% of exact (2.5×
    * the 2% configured rsd), each approx percentile inside the exact
    * [q−0.05, q+0.05] quantile band. ApproxSpec keeps the tighter
    * spec-side bounds.
    */
  private val q53 = GraftQuery(
    "q53_approx_sketches",
    (s, d) => {
      import s.implicits._
      // countDistinct must NOT share an Aggregate with the percentile
      // buffers: the one-distinct rewrite keys the partial pass by
      // (l_returnflag, l_partkey) — ~|distinct keys| Percentile maps and
      // QuantileSummaries that all get buffer-merged in the final stage
      // (round-5 tuning measurement: 7.5 s at sf0.1 vs ~1 s split). Separate 3-row
      // aggregations broadcast-joined instead; at 100 TB the same holds
      // (two scans beat one scan whose partial state explodes per key).
      val li = lineitem(s, d)
      val exact = li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_parts"))
      li.groupBy($"l_returnflag")
        .agg(
          approx_count_distinct($"l_partkey", 0.02).as("apx_parts"),
          expr("approx_percentile(l_quantity, array(0.5, 0.9), 1000)").as("apx_q"),
          expr("percentile(l_quantity, array(0.45, 0.55, 0.85, 0.95))").as("ex_q"),
          count(lit(1)).as("n"))
        .join(broadcast(exact), Seq("l_returnflag"))
        .select($"l_returnflag", $"exact_parts", $"n",
          (abs($"apx_parts" - $"exact_parts") <= $"exact_parts" * 0.05).as("parts_ok"),
          ($"apx_q".getItem(0) >= $"ex_q".getItem(0) &&
            $"apx_q".getItem(0) <= $"ex_q".getItem(1)).as("p50_ok"),
          ($"apx_q".getItem(1) >= $"ex_q".getItem(2) &&
            $"apx_q".getItem(1) <= $"ex_q".getItem(3)).as("p90_ok"))
        .orderBy($"l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
             COUNT(*) AS n, TRUE AS parts_ok, TRUE AS p50_ok, TRUE AS p90_ok
      FROM lineitem
      GROUP BY 1
      ORDER BY 1"""))

  /** Count-min-sketch heavy hitters (the streaming-friendly "top domains
    * / top tokens" sketch a 100 TB census uses instead of an exact
    * group-by when the key space explodes): one distributed CMS pass over
    * the exploded word stream (`df.stat.countMinSketch`, seeded —
    * deterministic), probed for the exact top-20 words. Acceptance
    * booleans pin CMS guarantees the oracle can't compute but CAN trust:
    * a CMS never underestimates (deterministic), and the overestimate
    * stays under 5·eps·N — deliberately wider than the probabilistic
    * 1-δ bound at eps·N, which a legal fixed-seed sketch can exceed on
    * ~δ of probes (a false correctness failure on some other dataset).
    * At 5× the per-row Markov bound powers to (1/5e)^depth ≈ 2e-6 per
    * probe: an engine bug, not sketch luck, if it ever fires. (DuckDB
    * recomputes the exact counts and ranking — the q53 sketch-tier
    * pattern.)
    */
  private val q84 = GraftQuery(
    "q84_heavy_hitters",
    (s, d) => {
      import s.implicits._
      // pinned: the sketch build and the exact top-20 are two
      // separate ACTIONS over this frame, and without materialization
      // each re-pays the dominant scan + word-split + explode cost
      // (round-14 review; the q81 dg precedent at the same grain)
      val words = Frames.pin(documents(s, d)
        .select(explode(Hashing.words($"text")).as("w")))
      val cms = words.stat.countMinSketch(
        "w", eps = 1e-4, confidence = 0.99, seed = 42)
      val total = cms.totalCount()
      val top = words.groupBy($"w").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"w".asc).limit(20).collect()
      val rows = top.map { r =>
        val (w, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(w)
        (w, n, est >= n && est <= n + (5 * 1e-4 * total).toLong)
      }.toSeq
      rows.toDF("w", "n", "cms_ok").orderBy($"n".desc, $"w".asc)
    },
    Some(s"""
      SELECT w, n, TRUE AS cms_ok
      FROM (
        SELECT w, COUNT(*) AS n
        FROM (SELECT unnest($W) AS w FROM documents) t
        GROUP BY 1
        ORDER BY n DESC, w ASC
        LIMIT 20) top
      ORDER BY n DESC, w ASC"""))

  /** LSH-bucketed ANN (the scale path of q46): queries probe only their
    * hyperplane bucket — corpus scanned once to bucket, then per-bucket
    * candidate ranking. Fully oracle-checked: the plane coefficients are
    * a pure function of (plane, dim) and both engines fold the
    * projections in dimension order, so DuckDB recomputes the *same*
    * buckets, the *same* restricted candidate sets, and the *same*
    * cosines ([[Similarity.hyperplaneBucketSql]] /
    * [[Similarity.cosineSql]]) — the approximate path hash-matches
    * end-to-end. Recall vs brute force stays asserted in IvfRecallSpec.
    */
  private val q54 = GraftQuery(
    "q54_lsh_ann",
    (s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
        .withColumn("bucket", Similarity.hyperplaneBucket($"embedding", 4, 64))
      val queries = e.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"bucket".as("q_bucket"))
      Similarity.ivfTopK(queries, e,
          "q_id", "q_vec", "q_bucket", "vec_id", "embedding", "bucket", k = 5)
        .select($"query_id", $"neighbor_id", $"rank", round($"cosine", 6).as("cosine"))
        .orderBy($"query_id", $"rank")
    },
    Some(s"""
      WITH b AS (
        SELECT vec_id, embedding,
               ${Similarity.hyperplaneBucketSql("embedding", 4, 64)} AS bucket
        FROM embeddings
        WHERE ${Similarity.nonZeroNormSql("embedding")}),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket
        FROM b WHERE vec_id < 5),
      scored AS (
        SELECT q.q_id, c.vec_id AS nid,
               ${Similarity.cosineSql("q.q_vec", "c.embedding")} AS cos
        FROM b c JOIN q ON c.bucket = q.q_bucket AND c.vec_id <> q.q_id),
      $annTailSql"""))

  /** Multi-probe LSH ANN — q54's recall lever: each query probes its own
    * hyperplane bucket plus the four Hamming-1 neighbors (one sign-bit
    * flip per plane), the standard multi-probe LSH expansion. Candidate
    * sets grow ~5×, recall strictly dominates single-probe, and the
    * whole path stays hash-matched end-to-end in DuckDB because the
    * probe list is pure integer XOR on the engine-identical bucket ids.
    * The exploded query side is still queries × 5 rows — broadcast; the
    * corpus is scanned once to bucket, exactly as q54.
    */
  private val q72 = GraftQuery(
    "q72_lsh_ann_multiprobe",
    (s, d) => {
      import s.implicits._
      val e = embeddings(s, d)
        .withColumn("bucket", Similarity.hyperplaneBucket($"embedding", 4, 64))
      val queries = e.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"), $"bucket".as("b"))
        .withColumn("probe", explode(array(
          $"b", $"b".bitwiseXOR(lit(1L)), $"b".bitwiseXOR(lit(2L)),
          $"b".bitwiseXOR(lit(4L)), $"b".bitwiseXOR(lit(8L)))))
        .drop("b")
      Similarity.ivfTopK(queries, e,
          "q_id", "q_vec", "probe", "vec_id", "embedding", "bucket", k = 5)
        .select($"query_id", $"neighbor_id", $"rank", round($"cosine", 6).as("cosine"))
        .orderBy($"query_id", $"rank")
    },
    Some(s"""
      WITH b AS (
        SELECT vec_id, embedding,
               ${Similarity.hyperplaneBucketSql("embedding", 4, 64)} AS bucket
        FROM embeddings
        WHERE ${Similarity.nonZeroNormSql("embedding")}),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket
        FROM b WHERE vec_id < 5),
      probes AS (
        SELECT q_id, q_vec, unnest([bucket,
          xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS probe
        FROM q),
      scored AS (
        SELECT p.q_id, c.vec_id AS nid,
               ${Similarity.cosineSql("p.q_vec", "c.embedding")} AS cos
        FROM b c JOIN probes p ON c.bucket = p.probe AND c.vec_id <> p.q_id),
      $annTailSql"""))

  /** True multi-probe IVF, oracle-checked end-to-end (q72 covers the
    * LSH-bucketed variant; this one runs the *trained* index path —
    * [[Similarity.trainKmeansCentroids]] → corpus [[Similarity.cellAssign]]
    * → query [[Similarity.probeCells]] with nProbe=2 →
    * [[Similarity.ivfTopKProbed]]). Training is deterministic (seeded
    * whole-population sample, fixed Lloyd iterations), so the oracle can
    * hash-match the full approximate path: the centroids are re-trained at
    * oracle-render time (identical by determinism — the price of the
    * split build/oracle closures) and rendered into the SQL as exact
    * float-cast literals; DuckDB then recomputes the same cell
    * assignments, the same probe lists, and the same cosines. At 100 TB
    * the corpus is scanned once for assignment and never shuffles; the
    * probe-exploded query side stays queries × nProbe rows, broadcast.
    */
  private val q89 = {
    val K = 8
    val NPROBE = 2
    def cents(s: SparkSession, d: String): Array[Array[Double]] =
      Similarity.trainKmeansCentroids(embeddings(s, d), "embedding", K,
        idCol = Some("vec_id"))
    GraftQuery(
      "q89_ivf_ann_trained",
      (s, d) => {
        import s.implicits._
        val cs = cents(s, d)
        val corpus = embeddings(s, d)
          .withColumn("cell", Similarity.cellAssign($"embedding", cs))
        val queries = embeddings(s, d).filter($"vec_id" < 5)
          .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
            Similarity.probeCells($"embedding", cs, NPROBE).as("probes"))
        Similarity.ivfTopKProbed(queries, corpus,
            "q_id", "q_vec", "probes", "vec_id", "embedding", "cell", k = 5)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cosine", 6).as("cosine"))
          .orderBy($"query_id", $"rank")
      },
      oracleDyn = Some { (s, d) =>
        val cs = cents(s, d)
        s"""
      WITH c AS (
        SELECT vec_id, embedding,
               ${Similarity.cellAssignSql("embedding", cs)} AS cell
        FROM embeddings
        WHERE ${Similarity.nonZeroNormSql("embedding")}),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_vec,
               ${Similarity.probeCellsSql("embedding", cs, NPROBE)} AS probes
        FROM embeddings
        WHERE vec_id < 5 AND ${Similarity.nonZeroNormSql("embedding")}),
      p AS (
        SELECT q_id, q_vec, unnest(probes) AS probe FROM q),
      scored AS (
        SELECT p.q_id, c.vec_id AS nid,
               ${Similarity.cosineSql("p.q_vec", "c.embedding")} AS cos
        FROM c JOIN p ON c.cell = p.probe AND c.vec_id <> p.q_id),
      $annTailSql"""
      })
  }

  /** SemDeDup ([[Dedup.semDedup]], Abbas et al. 2023): the semantic
    * counterpart of q45's block-keyed near-dup — k-means cells play the
    * blocking role, so documents that are *semantically* close get
    * compared even when no exact feature collides. Deterministic
    * end-to-end: seeded centroid training (q89's discipline, re-trained
    * at oracle-render time and rendered as float-cast literals), id-min
    * keep policy, fold-ordered cosine — so DuckDB recomputes identical
    * cells, identical pairs, and an identical keep/drop decision per
    * row. Output is the per-cell attrition ledger a corpus-prep run
    * would log: population, drops, first kept/dropped ids.
    */
  /** q91/q104's per-cell attrition rollup over a (vec_id, cell,
    * dropped) ledger — one Column-side definition for both queries.
    */
  private def semDedupRollup(
      sd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import sd.sparkSession.implicits._
    sd.groupBy($"cell".cast("int").as("cell"))
      .agg(count(lit(1)).as("n"),
        // count-of-when, not sum: DuckDB SUM(int) widens to HUGEINT
        count(when($"dropped", lit(1))).as("n_dropped"),
        min(when(!$"dropped", $"vec_id")).as("first_kept"),
        min(when($"dropped", $"vec_id")).as("first_dropped"))
      .orderBy($"cell")
  }

  /** The drop-policy + rollup SQL tail shared by every semDedup oracle:
    * expects a `c(vec_id, cell, embedding)` CTE already in scope.
    */
  private def semDedupTailSql(tau: Double): String =
    s"""d AS (
        SELECT DISTINCT y.vec_id AS did
        FROM c x JOIN c y ON x.cell = y.cell AND x.vec_id < y.vec_id
        WHERE ${Similarity.nonZeroNormSql("x.embedding")}
          AND ${Similarity.nonZeroNormSql("y.embedding")}
          AND ${Similarity.cosineSql("x.embedding", "y.embedding")} >= $tau),
      f AS (
        SELECT c.vec_id, c.cell, d.did IS NOT NULL AS dropped
        FROM c LEFT JOIN d ON c.vec_id = d.did)
      SELECT cell, COUNT(*) AS n,
             COUNT(CASE WHEN dropped THEN 1 END) AS n_dropped,
             MIN(CASE WHEN NOT dropped THEN vec_id END) AS first_kept,
             MIN(CASE WHEN dropped THEN vec_id END) AS first_dropped
      FROM f
      GROUP BY 1
      ORDER BY 1"""

  /** Hierarchical semDedup oracle body over a trained codebook: the
    * [[ivfAssignCtesSql]] chain feeds the shared drop-policy tail. Used
    * by q104/q111 at every bench SF and by q91 when [[dedupModel]]
    * resolves hierarchical.
    */
  private def semDedupIvfSql(cb: Ivf.Codebook, tau: Double): String =
    s"""
      WITH ${ivfAssignCtesSql(cb, "")},
      c AS (
        SELECT a.vec_id, a.cell, e0.embedding
        FROM embeddings e0 JOIN a USING (vec_id)),
      ${semDedupTailSql(tau)}"""

  /** q91/q104/q111's Spark side over a codebook: [[Ivf.assign]] cells
    * (NULL-cell rows excluded — the assign CTEs' inner joins drop them
    * on the oracle side) into the SemDeDup drop policy and rollup.
    */
  private def semDedupIvf(e: org.apache.spark.sql.DataFrame,
      cb: Ivf.Codebook): org.apache.spark.sql.DataFrame =
    semDedupRollup(Dedup.semDedupAssigned(
      Ivf.assign(e, "embedding", cb).filter(col("cell").isNotNull),
      "vec_id", "embedding", SemDedupTau))

  private val SemDedupTau = 0.4 // fires at every test SF (K=8-grain cells)

  private val q91 = {
    // K scales with the corpus ([[scaledK]]): the paper's recipe, and
    // the fix for the quadratic within-cell pair growth a fixed K=8
    // showed at the sf1 decade (14.6× per 10× of data). The cell model
    // follows the [[dedupModel]] tier — flat at bench SFs and sf1
    // (k=8/80, the measured-faster branch there), hierarchical from
    // sf10's k=800 on. The hierarchical branches are oracle-proved at
    // bench SFs by q104 and q111, which force them.
    GraftQuery(
      "q91_semdedup",
      (s, d) => dedupModel(s, d) match {
        case Left(cs) =>
          semDedupRollup(Dedup.semDedup(embeddings(s, d), "vec_id",
            "embedding", cs, SemDedupTau))
        case Right(cb) => semDedupIvf(embeddings(s, d), cb)
      },
      oracleDyn = Some { (s, d) =>
        dedupModel(s, d) match {
          case Left(cs) =>
            s"""
      WITH c AS (
        SELECT vec_id, embedding,
               CAST(${Similarity.cellAssignSql("embedding", cs)} AS INTEGER) AS cell
        FROM embeddings),
      ${semDedupTailSql(SemDedupTau)}"""
          case Right(cb) => semDedupIvfSql(cb, SemDedupTau)
        }
      })
  }

  /** CorpusPrep end-to-end acceptance oracle (round-7 verdict task 6):
    * the attrition ledger [[graft.jobs.CorpusPrep.run]] returns — one
    * row per stage with its surviving doc count (input → quality/lang
    * gate → exact dedup → near-dup canonical) — recomputed stage by
    * stage in DuckDB over the same table: annotation mirrors
    * langIdSql/qualityScoreSql (per-row rational arithmetic,
    * bit-identical across engines), the exact stage keeps min(doc_id)
    * per 8-leading-word key, and the near-dup stage re-walks the LSH
    * components over the exact-deduped set with the shared recursive
    * chain and subtracts non-canonical members. Round-17 adds the
    * job's two hot-bucket diagnostic rows (lsh_max_bucket,
    * lsh_candidate_pairs = Σ m·(m−1)/2 over (band, key) buckets —
    * the ledger field a deployment sizes Config.maxLshBucket from),
    * recomputed from the shared banded CTE with integer-exact
    * division on both engines. The job's cache/unpersist choreography
    * stays covered by CorpusPrepSpec; this row pins the COUNTS
    * end-to-end.
    */
  private val q95 = GraftQuery(
    "q95_corpus_prep_ledger",
    (s, d) => {
      val frames = graft.jobs.CorpusPrep.run(documents(s, d), "doc_id", "text")
      val out = frames.stats.orderBy(col("stage"))
      frames.release() // stats is a driver-side frame; kept is not consumed
      out
    },
    Some(s"""
      WITH RECURSIVE
      ann AS (
        SELECT doc_id, text, ${TextAnalysis.langIdSql(W)} AS lang,
               ${TextAnalysis.qualityScoreSql(W)} AS quality
        FROM documents),
      gated AS (
        SELECT doc_id, text FROM ann
        WHERE quality >= 0.3 AND lang <> 'und'),
      exact AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 MIN(doc_id) OVER (PARTITION BY array_to_string($W[1:8], ' ')) AS keeper
          FROM gated) t
        WHERE doc_id = keeper),
      ${lshLabelChainSql("exact")},
      sizes AS (
        SELECT band, key, COUNT(*) AS m FROM banded GROUP BY band, key),
      counts(stage, docs) AS (
                  SELECT 'input', COUNT(*) FROM documents
        UNION ALL SELECT 'quality_lang_gate', COUNT(*) FROM gated
        UNION ALL SELECT 'exact_dedup', COUNT(*) FROM exact
        UNION ALL SELECT 'near_dup',
          (SELECT COUNT(*) FROM exact) -
          (SELECT COUNT(*) FROM labels WHERE id <> cluster)
        UNION ALL SELECT 'lsh_max_bucket',
          (SELECT COALESCE(MAX(m), 0) FROM sizes)
        UNION ALL SELECT 'lsh_candidate_pairs',
          (SELECT COALESCE(SUM(m * (m - 1) // 2), 0) FROM sizes))
      SELECT stage, CAST(docs AS BIGINT) AS docs
      FROM counts
      ORDER BY stage"""))

  /** Distributed Lloyd k-means over the full embedding corpus
    * ([[graft.operators.KMeans]]) — the whole-data complement of q89's
    * sample-trained IVF: every iteration is one map-side assignment
    * against k·dims centroid literals plus ONE partial-aggregated
    * (cell, dim) shuffle, with O(k·dims) driver state per round (the
    * BPE training discipline). Integer-exact throughout (floor-quantized
    * inputs, integer distances, floored-division updates), so the DuckDB
    * oracle needs NO trained literals: both engines re-derive
    * bit-identical centroids from the data alone — a stronger check
    * than q89's rendered-literal oracle, covering the iterations
    * themselves. Seeds: the k smallest vec_ids' vectors.
    */
  private val q99 = {
    val K = 8
    val ITERS = 3
    GraftQuery(
      "q99_kmeans_distributed",
      (s, d) => {
        import s.implicits._
        val quant = embeddings(s, d)
          .select($"vec_id", graft.operators.KMeans.quantize($"embedding").as("xq"))
        val init = quant.orderBy($"vec_id").limit(K).collect()
          .map(_.getSeq[Long](1).toSeq).toSeq
        val cents = graft.operators.KMeans.lloyd(quant, "xq", init, ITERS)
        graft.operators.KMeans.cellSummary(quant, "vec_id", "xq", cents)
      },
      Some(graft.operators.KMeans.lloydSql(
        "embeddings", "vec_id", "embedding", K, ITERS)))
  }

  /** q89's multi-probe IVF search path driven by the FULL-corpus
    * distributed trainer ([[Similarity.trainKmeansCentroidsFull]] →
    * [[graft.operators.KMeans.lloyd]]) instead of the driver-side
    * sample: every Lloyd round is one map-side assignment pass plus one
    * (cell, dim) partial-aggregated shuffle, O(k·dims) driver state —
    * the trainer you switch to when k approaches the affordable sample
    * size or sampled cells skew (scaladoc guidance at
    * `Similarity.trainKmeansCentroidsFull`). Deterministic end-to-end
    * (hash-ordered bounded seed pool, greedy max-min seeding,
    * integer-exact Lloyd), so the oracle re-trains at render time and
    * embeds the centroids as float-cast literals exactly like q89 —
    * DuckDB then recomputes identical cells, probes, and cosines. The
    * search-side scale shape is q89's: corpus scanned once for
    * assignment, probe-exploded queries broadcast.
    */
  private val q100 = {
    val K = 8
    val NPROBE = 2
    val ITERS = 4
    // One training per (session, dir), shared by the plan lambda and
    // oracleDyn — without the memo every Verify pass trains the full
    // corpus TWICE (2 × (ITERS+1) scans + shuffles just for identical
    // centroids; lifecycle rationale at [[GraftQuery.SessionMemo]]).
    // idCol=vec_id keeps the seed pool's distinct-vector diversity
    // under value-duplicated corpora (the replicated sf1 fixtures).
    val cents = new GraftQuery.SessionMemo[Array[Array[Double]]]({ (s, d) =>
      Similarity.trainKmeansCentroidsFull(
        embeddings(s, d), "embedding", K, ITERS, idCol = Some("vec_id"))
    })
    // the full trainer can return FEWER than K centroids (its documented
    // contract: Lloyd drops empty cells); probeCells requires
    // nProbe <= centroids.length, so clamp — both the plan and the
    // oracle, which re-derive identical centroids, clamp identically
    def nProbe(cs: Array[Array[Double]]): Int = math.min(NPROBE, cs.length)
    GraftQuery(
      "q100_ivf_ann_full_trained",
      (s, d) => {
        import s.implicits._
        val cs = cents(s, d)
        val corpus = embeddings(s, d)
          .withColumn("cell", Similarity.cellAssign($"embedding", cs))
        val queries = embeddings(s, d).filter($"vec_id" < 5)
          .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
            Similarity.probeCells($"embedding", cs, nProbe(cs)).as("probes"))
        Similarity.ivfTopKProbed(queries, corpus,
            "q_id", "q_vec", "probes", "vec_id", "embedding", "cell", k = 5)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cosine", 6).as("cosine"))
          .orderBy($"query_id", $"rank")
      },
      oracleDyn = Some { (s, d) =>
        val cs = cents(s, d)
        s"""
      WITH c AS (
        SELECT vec_id, embedding,
               ${Similarity.cellAssignSql("embedding", cs)} AS cell
        FROM embeddings
        WHERE ${Similarity.nonZeroNormSql("embedding")}),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_vec,
               ${Similarity.probeCellsSql("embedding", cs, nProbe(cs))} AS probes
        FROM embeddings
        WHERE vec_id < 5 AND ${Similarity.nonZeroNormSql("embedding")}),
      p AS (
        SELECT q_id, q_vec, unnest(probes) AS probe FROM q),
      scored AS (
        SELECT p.q_id, c.vec_id AS nid,
               ${Similarity.cosineSql("p.q_vec", "c.embedding")} AS cos
        FROM c JOIN p ON c.cell = p.probe AND c.vec_id <> p.q_id),
      $annTailSql"""
      })
  }

  private def codebookMemo(train: (SparkSession, String) => Ivf.Codebook) =
    new GraftQuery.SessionMemo[Ivf.Codebook](
      (s, d) => Ivf.durable(train(s, d)), close = _.release())

  /** The fixed-k index codebooks: q101/q103 at depth 2 (k = 12) and
    * q109/q110 at depth 3 (k = 27, so all three levels are populated at
    * every SF). Fewer Lloyd rounds keep the oracle-render retrain cost
    * bounded.
    */
  private def indexCodebook(k: Int, depth: Int) = codebookMemo((s, d) =>
    Ivf.train(embeddings(s, d), "embedding", "vec_id", k, depth,
      itersCoarse = 3, itersLevel = 2))
  private val ivfCodebook = indexCodebook(12, 2)

  /** q102's frozen pre-delta codebook: trained on the corpus MINUS the
    * delta slice, exactly the state a daily-ingest index holds before
    * new embeddings arrive.
    */
  private val ivfBaseCodebook = codebookMemo((s, d) =>
    Ivf.train(embeddings(s, d).filter(col("vec_id") % 7 =!= 0),
      "embedding", "vec_id", k = 12, itersCoarse = 3, itersLevel = 2))

  /** The assignment CTE chain every IVF oracle shares: one literal CTE
    * per codebook level (`cb1`, then `cb2` at depth 3 — the leaf is
    * `cb<levels>`), the coarse-assigned quantized rows `e`, and one
    * [[Ivf.assignCteSql]] hop per level, re-keying the rows by the cell
    * the previous hop chose, ending in `a(vec_id, cell)`. `prefix`
    * namespaces every CTE so two codebooks can share one query.
    * Single-sourced so the exactness-critical assignment SQL cannot
    * drift between the build, upsert, search, dedup and recall rows.
    */
  private def ivfAssignCtesSql(cb: Ivf.Codebook, eFilter: String,
      prefix: String = ""): String = {
    def rows(i: Int) = s"$prefix${if (i == 0) "e" else s"e$i"}"
    val levels = cb.levels.zipWithIndex.map { case (level, i) =>
      Ivf.codebookCteSql(s"${prefix}cb${i + 1}", Ivf.collectLevel(level))
    }
    val hops = cb.levels.indices.map { i =>
      val out = if (i == cb.levels.size - 1) s"${prefix}a" else s"${prefix}a$i"
      val rekey = if (i == 0) "" else s"""
      ${rows(i)} AS (
        SELECT h.vec_id, CAST(h.cell AS INTEGER) AS coarse, r.xq
        FROM ${prefix}a${i - 1} h JOIN ${rows(0)} r USING (vec_id)),"""
      s"""$rekey
      $out AS (
        ${Ivf.assignCteSql(rows(i), s"${prefix}cb${i + 1}")})"""
    }
    s"""${levels.mkString(",\n      ")},
      ${rows(0)} AS (
        SELECT vec_id,
               CAST(${Similarity.cellAssignSql("embedding", cb.coarse)} AS INTEGER) AS coarse,
               ${Ivf.quantizeListSql("embedding")} AS xq
        FROM embeddings
        WHERE len(embedding) = ${cb.dims}$eFilter),${hops.mkString(",")}"""
  }

  /** The rank-and-project tail every ANN oracle shares (the top-k=5
    * queries — q46/q89/q100/q103 et al.): expects a
    * `scored(q_id, nid, cos)` CTE. A `def`, not a `val`: the static
    * oracles interpolate it during THEIR val initializers, which run
    * before any later val in this object would be assigned.
    */
  private def annTailSql: String =
    s"""ranked AS (
        SELECT q_id, nid, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nid) AS rk
        FROM scored)
      SELECT q_id AS query_id, nid AS neighbor_id,
             CAST(rk AS INTEGER) AS "rank", round(cos, 6) AS cosine
      FROM ranked WHERE rk <= 5
      ORDER BY query_id, "rank""""

  /** The per-cell index manifest of an assigned corpus (population,
    * first member, first two leaf-centroid coords) — q101/q102/q109's
    * output, and [[ivfRollupSql]] its oracle.
    */
  private def ivfRollup(assigned: org.apache.spark.sql.DataFrame,
      cb: Ivf.Codebook): org.apache.spark.sql.DataFrame =
    assigned
      .filter(col("cell").isNotNull) // parent cells with no deeper entries
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min("vec_id").as("first_member"))
      .join(cb.fine.select(col("cell"),
        element_at(col("c"), 1).as("c0"), element_at(col("c"), 2).as("c1")),
        "cell")
      .orderBy("cell")

  private def ivfRollupSql(cb: Ivf.Codebook): String =
    s"""
      WITH ${ivfAssignCtesSql(cb, "")}
      SELECT a.cell, COUNT(*) AS n, MIN(a.vec_id) AS first_member,
             MIN(f.c[1]) AS c0, MIN(f.c[2]) AS c1
      FROM a JOIN cb${cb.levels.size} f ON a.cell = f.cell
      GROUP BY a.cell
      ORDER BY a.cell"""

  /** IVF index build — [[Ivf.train]] → [[Ivf.assign]] at the memo's
    * depth: coarse centroids trained DISTRIBUTED and shipped as the
    * only plan literals; the deeper levels stay DataFrames joined at
    * assignment time, so trainer driver work and plan bytes are
    * O(k^(1/depth)·d) instead of O(k·d). Assignment runs in
    * [[graft.operators.KMeans]]'s integer-exact quantized domain
    * (codegen kernel [[graft.plans.NearestCandidate]]), so the oracle
    * re-renders every trained level as BIGINT literals and hash-matches
    * the full assignment chain.
    */
  private def ivfBuildQuery(name: String,
      memo: GraftQuery.SessionMemo[Ivf.Codebook]): GraftQuery =
    GraftQuery(name,
      (s, d) => {
        val cb = memo(s, d)
        ivfRollup(Ivf.assign(
          embeddings(s, d).filter(size(col("embedding")) === cb.dims),
          "embedding", cb), cb)
      },
      oracleDyn = Some((s, d) => ivfRollupSql(memo(s, d))))

  private val q101 = ivfBuildQuery("q101_hierarchical_ivf", ivfCodebook)

  /** Incremental ANN index maintenance: the daily-ingest posture
    * upserts NEW embeddings into an EXISTING IVF index instead of
    * retraining. The codebook is frozen on the base slice
    * (vec_id % 7 ≠ 0); the plan assigns base and delta in two
    * independent [[Ivf.assign]] passes and unions them — while the
    * oracle assigns base+delta in ONE pass over the same rendered
    * codebook. Hash equality IS the incremental-correctness proof:
    * fixed-codebook assignment is a pure per-row function, so
    * `assign(corpus) ∪ assign(delta) ≡ assign(corpus ∪ delta)` — no
    * re-indexing of existing rows is ever needed until the
    * [[Ivf.driftFraction]] trigger fires (drift behavior pinned in
    * IvfSpec; streaming restart in StreamsSpec).
    */
  private val q102 = GraftQuery(
    "q102_ivf_incremental",
    (s, d) => {
      val cb = ivfBaseCodebook(s, d)
      val all = embeddings(s, d).filter(size(col("embedding")) === cb.dims)
      ivfRollup(
        Ivf.assign(all.filter(col("vec_id") % 7 =!= 0), "embedding", cb)
          .unionByName(
            Ivf.assign(all.filter(col("vec_id") % 7 === 0), "embedding", cb)),
        cb)
    },
    oracleDyn = Some((s, d) => ivfRollupSql(ivfBaseCodebook(s, d))))

  /** Hierarchical ANN search end-to-end: the SEARCH half of the index
    * [[ivfBuildQuery]] builds — queries probe their 2 nearest coarse
    * cells, then `deepProbes` nearest cells per deeper level
    * ([[Ivf.probeCells]], O(nProbe·k^(1/depth)·d) per query per hop
    * instead of the flat probe's O(k·d) literal scan), then
    * [[Similarity.ivfTopKProbed]] ranks candidates within the probed
    * leaf cells. Probe lists are integer-exact with BIGINT sort keys on
    * both engines (one [[Ivf.probeSelectSql]] hop per level); cosines
    * are the fold-ordered float-domain machinery q89/q100 pin.
    */
  private def ivfAnnQuery(name: String,
      memo: GraftQuery.SessionMemo[Ivf.Codebook],
      deepProbes: Seq[Int]): GraftQuery = {
    def nProbe(cb: Ivf.Codebook) = math.min(2, cb.coarse.length) +: deepProbes
    GraftQuery(
      name,
      (s, d) => {
        import s.implicits._
        val cb = memo(s, d)
        val all = embeddings(s, d).filter(size(col("embedding")) === cb.dims)
        val corpus = Ivf.assign(all, "embedding", cb)
          .filter($"cell".isNotNull)
        val queries = Ivf.probeCells(
          all.filter($"vec_id" < 5)
            .select($"vec_id".as("q_id"), $"embedding".as("q_vec")),
          "q_id", "q_vec", cb, nProbe(cb))
        Similarity.ivfTopKProbed(queries, corpus,
            "q_id", "q_vec", "probes", "vec_id", "embedding", "cell", k = 5)
          .select($"query_id", $"neighbor_id", $"rank",
            round($"cosine", 6).as("cosine"))
          .orderBy($"query_id", $"rank")
      },
      oracleDyn = Some { (s, d) =>
        val cb = memo(s, d)
        val np = nProbe(cb)
        // hop i+1 scores level i+1's entries under the cells hop i kept
        val hops = np.tail.zipWithIndex.map { case (n, i) =>
          val hop = s"""h${i + 1} AS (
        ${Ivf.probeSelectSql(if (i == 0) "qs" else s"qh$i", s"cb${i + 1}",
              if (i == 0) "cps" else "parents", n)})"""
          if (i == 0) hop
          else s"""qh$i AS (
        SELECT qs.q_id, qs.xq, h$i.probes AS parents
        FROM qs JOIN h$i USING (q_id)),
      $hop"""
        }
        s"""
      WITH ${ivfAssignCtesSql(cb, "")},
      corpus AS (
        SELECT e0.vec_id, e0.embedding, a.cell
        FROM embeddings e0 JOIN a USING (vec_id)
        WHERE ${Similarity.nonZeroNormSql("e0.embedding")}),
      qs AS (
        SELECT vec_id AS q_id, embedding AS q_vec,
               ${Ivf.quantizeListSql("embedding")} AS xq,
               ${Similarity.probeCellsSql("embedding", cb.coarse, np.head)} AS cps
        FROM embeddings
        WHERE vec_id < 5 AND len(embedding) = ${cb.dims}
          AND ${Similarity.nonZeroNormSql("embedding")}),
      ${hops.mkString(",\n      ")},
      p AS (
        SELECT qs.q_id, qs.q_vec, unnest(h.probes) AS probe
        FROM qs JOIN h${cb.levels.size} h USING (q_id)),
      scored AS (
        SELECT p.q_id, corpus.vec_id AS nid,
               ${Similarity.cosineSql("p.q_vec", "corpus.embedding")} AS cos
        FROM corpus JOIN p ON corpus.cell = p.probe AND corpus.vec_id <> p.q_id),
      $annTailSql"""
      })
  }

  private val q103 = ivfAnnQuery("q103_hierarchical_ann", ivfCodebook, Seq(3))

  /** The CORPUS-SCALED codebooks (k = [[scaledK]], the SemDeDup recipe
    * — NOT the fixed-k index codebooks): a fixed cell count makes
    * intra-cell pair work quadratic as the corpus grows (the q45/q91
    * trap); cells must scale with rows for the pair stage to stay
    * linear (the first embedding-family canary read 6.81 per decade on
    * a fixed-k form). q104 trains depth 2, q111 depth 3; q112 reads
    * both.
    */
  private def scaledCodebook(depth: Int) = codebookMemo { (s, d) =>
    val e = embeddings(s, d)
    Ivf.train(e, "embedding", "vec_id", scaledK(e.count()), depth,
      itersCoarse = 3, itersLevel = 2)
  }
  private val ivfScaledCodebook = scaledCodebook(2)

  /** SemDeDup over HIERARCHICAL cells: the codebook branches of the
    * [[dedupModel]] switch, forced at bench SFs (where q91 legitimately
    * resolves flat) so every branch q91 takes at deployment k carries
    * its own green oracle row — q104 at depth 2 (k > [[Dedup.FlatMaxK]])
    * and q111 at depth 3 (k ≥ [[Ivf.DeepMinK]]). [[Ivf.assign]] cells
    * replace the flat plan-literal assignment, then the identical
    * drop-policy + attrition rollup as q91; the oracle re-renders the
    * trained codebook as BIGINT literals and recomputes assignment,
    * drops, and rollup from scratch.
    */
  private def semDedupIvfQuery(name: String,
      memo: GraftQuery.SessionMemo[Ivf.Codebook]): GraftQuery =
    GraftQuery(name,
      (s, d) => semDedupIvf(embeddings(s, d), memo(s, d)),
      oracleDyn = Some((s, d) => semDedupIvfSql(memo(s, d), SemDedupTau)))

  private val q104 =
    semDedupIvfQuery("q104_semdedup_hierarchical", ivfScaledCodebook)

  /** The hot-bucket-CAPPED LSH cluster pipeline (round-16): q52's
    * measured scale control. q52 runs UNCAPPED LSH — exact recall, the
    * oracle contract — and its candidate volume is quadratic in
    * hot-bucket mass (measured on the scaling corpora: 121k candidate
    * pairs at sf1 → 11.1M at sf10, a 92× growth for 10× data, driven
    * by max bucket size 35 → 265; the verified EDGES stay linear at
    * 2,555 → 25,557 because almost all hot-bucket candidates fail the
    * Jaccard verify). This twin runs the identical pipeline with
    * [[Dedup.capBuckets]]'s documented mitigation (`maxBucket = 3`,
    * sized to BITE at bench SFs — sf0.001's max bucket is 4 and
    * sf0.1's 7, so the capped branch is differentially oracle-covered
    * where results visibly change, and bites hard at sf1/sf10's
    * 35/265-member hot buckets) — the q76/q77 salting precedent: same semantics family,
    * wall-clock isolates the mitigation. The oracle mirrors the cap as
    * a HAVING > cap / NOT EXISTS pair over the same banded CTE.
    */
  private val q105 = GraftQuery(
    "q105_dedup_clusters_capped",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
        maxBucket = Some(3))
      Dedup.dupClusters(pairs)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"cluster")
    },
    Some(clusterSizesSql(Some(3))))

  /** The capped pipeline's MEASURED recall floor (round-17, r16 verdict
    * task 1): q105 priced the hot-bucket cap's wall-clock win (7.6× vs
    * 12.6× per decade); q106 pins its SEMANTIC price — the fraction of
    * the exact pipeline's verified duplicate pairs the cap retains.
    * Measured at cap=3 (q105's, sized to bite at bench SFs): see the
    * q106 scaladoc for per-SF values; the bound sits under the minimum.
    */
  private val CappedLshRecallBound = 0.75

  /** Capped-LSH RECALL acceptance row (round-17, r16 verdict task 1,
    * the q53 sketch-guarantee pattern): both engines compute the exact
    * pipeline's verified pair count, the capped pipeline's retained
    * count, and the acceptance boolean `recall >= bound` — so the
    * cap's documented "other bands usually recover a dropped pair"
    * claim carries a measured, oracle-checked floor instead of prose.
    *
    * Identity the oracle leans on: capped-verified pairs =
    * (uncapped-verified pairs) ∩ (capped candidates) — the verify is a
    * pure function of the pair's shingle sets and kept ⊆ banded, so
    * the SQL intersects the shared `pairs` CTE with `cand_c` instead
    * of running the verify twice; the Spark side intersects the two
    * materialized pair frames the production operators actually emit.
    *
    * Measured recall at cap=3 (this round, exact over the full pair
    * set; BENCH_SCALING.md round-17): sf0.001 22/28 = 0.7857,
    * sf0.01 24/24 = 1.0000, sf0.1 250/256 = 0.9766,
    * sf1 2465/2555 = 0.9648, sf10 24658/25557 = 0.9648 — the loss
    * CONVERGES at scale (~3.5%) because the replica construction grows
    * it in proportion. Mechanism (verified on the sf0.001 losses, all
    * six = the pairs of ONE 4-member shared-prefix near-dup family):
    * losses concentrate in near-dup FAMILIES larger than the cap —
    * every band bucket such a pair shares holds the whole family, so
    * no other band recovers it — which is exactly the mass the cap
    * exists to bound (an m-member family is m² uncapped candidate
    * work). Because whole families drop together, a capped pipeline
    * UNDER-MERGES clusters (family members fall out as singletons); it
    * never corrupts unrelated ones. The sf0.001 dip is small-corpus
    * quantization — that one family's 6 pairs against only 28 total.
    * The bound (0.75) holds at every measured SF; the figure a
    * deployment should quote is the at-scale floor 0.9648. Past sf10
    * this row's uncapped denominator is infeasible (1.117B candidates
    * at sf100, probe-measured) — q108 carries the floor onward over a
    * deterministic pair sample.
    */
  private val q106 = GraftQuery(
    "q106_capped_lsh_recall",
    (s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val unc = Dedup.minhashLshPairs(docs, "doc_id", "text")
        .select($"id_a", $"id_b")
      val cap = Dedup.minhashLshPairs(docs, "doc_id", "text",
          maxBucket = Some(3))
        .select($"id_a", $"id_b")
      val nPairs = unc.count()
      val nRetained = unc.join(cap, Seq("id_a", "id_b")).count()
      // IEEE-754 division of two exact integers is bit-identical on
      // both engines; the zero-pair guard mirrors the oracle's CASE
      // (Spark 4 ANSI throws DIVIDE_BY_ZERO even for doubles)
      val recall = if (nPairs > 0) Some(nRetained.toDouble / nPairs) else None
      Seq((nPairs, nRetained,
          recall.map(r => math.round(r * 1e4) / 1e4),
          recall.forall(_ >= CappedLshRecallBound)))
        .toDF("n_pairs", "n_retained", "recall", "recall_ok")
    },
    Some(s"""
      WITH ${shingleBaseSql()},
      ${minhashBandCandSql()},
      ${cappedCandSql(3, "_c")},
      pairs AS (
        SELECT id_a, id_b
        FROM cand JOIN base xa ON id_a = xa.doc_id JOIN base xb ON id_b = xb.doc_id
        WHERE ${jaccardSql("xa.sh", "xb.sh")} >= 0.5),
      retained AS (
        SELECT p.id_a, p.id_b FROM pairs p
        JOIN cand_c c ON p.id_a = c.id_a AND p.id_b = c.id_b),
      n AS (SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
                   (SELECT COUNT(*) FROM retained) AS n_retained)
      SELECT n_pairs, n_retained,
        CASE WHEN n_pairs > 0
          THEN ROUND(CAST(n_retained AS DOUBLE) / n_pairs, 4) END AS recall,
        CASE WHEN n_pairs > 0
          THEN CAST(n_retained AS DOUBLE) / n_pairs >= $CappedLshRecallBound
          ELSE TRUE END AS recall_ok
      FROM n"""))

  /** The deployment-scale cluster pipeline END-TO-END: hot-bucket-capped
    * LSH candidates (q105's linear-by-construction volume) into the
    * FORCED distributed CC branch (q75's 100 TB code path). Round-17's
    * fourth scaling decade showed why this composition needs its own
    * row: q75 composes the distributed CC with UNCAPPED LSH, whose
    * candidate volume is measured quadratic in hot-bucket mass
    * (11.1M candidates at sf10 → 1.117B at sf100, probe-measured this
    * round) — so q75 cannot run at sf100 in this harness and the
    * distributed-CC branch had NO feasible deep-scale probe. This twin
    * is that probe: capped candidates ≤ cap·buckets = linear, and the
    * CC branch choice must never change the labels, so the oracle is
    * q105's SQL verbatim (the q52/q75 shared-oracle precedent).
    */
  private val q107 = GraftQuery(
    "q107_dedup_clusters_capped_distributed",
    (s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
        maxBucket = Some(3))
      Dedup.dupClusters(pairs, driverMaxEdges = 0L)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"cluster")
    },
    Some(clusterSizesSql(Some(3))))

  /** The deterministic 1/8 document sample q108 measures recall over:
    * salted-md5 bucket below 0x2000 = 8192/65536 — a pure function of
    * doc_id (the q70/q66 sampler machinery), so both engines draw the
    * identical sample at any SF.
    */
  private val SampledRecallSalt = "lsh-recall-r18"
  private val SampledRecallHexBound = "2000"

  /** Below this many sampled uncapped pairs the recall estimate has no
    * statistical support (a single lost pair swings it past any fixed
    * bound — at bench SFs the 1/8 sample holds 0-4 pairs) and the
    * acceptance is vacuously true; the row's JOB is the deep-scale
    * regime, where the sample holds thousands (see scaladoc).
    */
  private val SampledRecallMinSupport = 20L

  /** SAMPLED capped-LSH recall — q106 extended past the last decade
    * where its uncapped denominator is feasible (round-18, r17 verdict
    * task 4): the exact pipeline's full pair set costs a candidate
    * join that is QUADRATIC in hot-bucket mass (probe-measured 1.117B
    * candidate pairs at sf100 — q75 failed both passes there), so at
    * deployment scale the recall floor is estimated over a
    * deterministic 1/8 document sample instead of refused.
    *
    * Identity the estimator leans on: banded-LSH candidacy is a pure
    * per-PAIR function of the two documents' own shingles (a band key
    * depends on nothing else in the corpus), so the uncapped pipeline
    * RUN OVER THE SAMPLE alone emits exactly the full pipeline's
    * verified pairs with both endpoints sampled — each full-corpus
    * pair is included with probability (1/8)², an unbiased pair
    * sample, and the quadratic term shrinks by 64×. The CAPPED side
    * deliberately runs over the FULL corpus (hot buckets are a
    * full-corpus property — capping the sample's buckets would measure
    * a different, gentler cap) and is linear by construction; the
    * retained set intersects the two. Acceptance mirrors q106's bound
    * with a support gate ([[SampledRecallMinSupport]]).
    *
    * Measured (round-18, Spark side verified against the DuckDB twin
    * at the fixture SFs): sf0.001/sf0.01 0 sampled pairs (vacuous),
    * sf0.1 9/9 = 1.0, sf1 46/49 = 0.9388, sf10 342/357 = 0.9580 —
    * tracking q106's exact floor (0.9648 at sf1/sf10) within sampling
    * noise — and sf100, the decade the exact denominator cannot reach:
    * see BENCH_SCALING.md round-18 for the deployment-scale floor.
    */
  private val q108 = GraftQuery(
    "q108_capped_lsh_recall_sampled",
    (s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      val samp = docs.filter(
        Corpus.bucket16($"doc_id", SampledRecallSalt) < SampledRecallHexBound)
      val unc = Dedup.minhashLshPairs(samp, "doc_id", "text")
        .select($"id_a", $"id_b")
      val cap = Dedup.minhashLshPairs(docs, "doc_id", "text",
          maxBucket = Some(3))
        .select($"id_a", $"id_b")
      val nPairs = unc.count()
      val nRetained = unc.join(cap, Seq("id_a", "id_b")).count()
      val recall = if (nPairs > 0) Some(nRetained.toDouble / nPairs) else None
      Seq((nPairs, nRetained,
          recall.map(r => math.round(r * 1e4) / 1e4),
          nPairs < SampledRecallMinSupport ||
            recall.exists(_ >= CappedLshRecallBound)))
        .toDF("n_pairs", "n_retained", "recall", "recall_ok")
    },
    Some(s"""
      WITH ${shingleBaseSql()},
      ${minhashBandCandSql()},
      ${cappedCandSql(3, "_c")},
      samp AS (
        SELECT doc_id FROM documents
        WHERE ${Corpus.bucket16Sql("doc_id", SampledRecallSalt)}
                < '$SampledRecallHexBound'),
      -- candidacy is per-pair, so full-corpus candidates restricted to
      -- sampled endpoints == candidates of the sampled sub-corpus (what
      -- the Spark side actually runs)
      cand_s AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN samp sa ON c.id_a = sa.doc_id
        JOIN samp sb ON c.id_b = sb.doc_id),
      pairs_s AS (
        SELECT id_a, id_b
        FROM cand_s JOIN base xa ON id_a = xa.doc_id JOIN base xb ON id_b = xb.doc_id
        WHERE ${jaccardSql("xa.sh", "xb.sh")} >= 0.5),
      retained AS (
        SELECT p.id_a, p.id_b FROM pairs_s p
        JOIN cand_c c ON p.id_a = c.id_a AND p.id_b = c.id_b),
      n AS (SELECT (SELECT COUNT(*) FROM pairs_s) AS n_pairs,
                   (SELECT COUNT(*) FROM retained) AS n_retained)
      SELECT n_pairs, n_retained,
        CASE WHEN n_pairs > 0
          THEN ROUND(CAST(n_retained AS DOUBLE) / n_pairs, 4) END AS recall,
        CASE WHEN n_pairs >= $SampledRecallMinSupport
          THEN CAST(n_retained AS DOUBLE) / n_pairs >= $CappedLshRecallBound
          ELSE TRUE END AS recall_ok
      FROM n"""))

  private val ivf3Codebook = indexCodebook(27, 3)

  /** The three-level index build and search: q101/q103 one level
    * deeper — the corpus-scaled-k mitigation for the two-level
    * module's measured n^1.5 assignment asymptote.
    */
  private val q109 = ivfBuildQuery("q109_ivf3_deep_codebook", ivf3Codebook)
  private val q110 = ivfAnnQuery("q110_ivf3_deep_ann", ivf3Codebook, Seq(4, 3))

  private val ivf3ScaledCodebook = scaledCodebook(3)

  private val q111 = semDedupIvfQuery("q111_semdedup_deep", ivf3ScaledCodebook)

  /** The deterministic 1/8 sample + support gate for the deep tier's
    * recall row — q108's machinery pointed at the SEMANTIC pipeline.
    */
  private val DeepRecallSalt = "semdedup-deep-r19"
  private val DeepRecallHexBound = "2000"
  private val DeepRecallMinSupport = 20L

  /** The deep tier's measured co-location CAPACITY floor vs the
    * two-level tier it replaces at [[Ivf.DeepMinK]]: the ratio of true
    * tau-close pairs each partition co-locates (the pairs its SemDeDup
    * can drop). Measured 112/113 = 0.9912 at sf1 (`graft.tools.Probe
    * recall112`) — the extra approximation level costs ~1% of the
    * shallower tier's reachable drop mass. NOT a pair-wise
    * intersection: at a loose tau the co-located pairs are borderline
    * pairs near cell boundaries, and two equally-good partitions
    * co-locate different ones (the measured intersection is 9/113 —
    * partition similarity, not dedup capability); what a deployment
    * needs preserved across the tier switch is the drop CAPACITY. The
    * bound sits well under the measured ratio with sampling-noise room.
    */
  private val DeepRecallBound = 0.8

  /** SAMPLED co-location-capacity floor for the DEEP semantic tier:
    * q106/q108 price the hot-bucket cap for the text-LSH path; this
    * row prices the two→three-level codebook switch the same way,
    * before it becomes the default at k ≥ [[Ivf.DeepMinK]] (sf100
    * onward). SemDeDup can only drop a
    * near-dup pair its cell partition CO-LOCATES, so the deep tier's
    * semantic price is the drop mass it can still reach: the count of
    * sampled tau-close pairs each partition co-locates, compared as a
    * ratio (see [[DeepRecallBound]] for why capacity, not pair-wise
    * intersection, is the preserved quantity — and why the ABSOLUTE
    * rate, 0.07-0.11 at tau=0.4 for ALL tiers including flat, is a
    * property of within-cell dedup at a loose tau, not of any tier).
    * Over a deterministic 1/8 sample (assignment is a pure per-row
    * function of (vector, codebook), so sampled rows' cells equal
    * their full-corpus cells, and the brute-force true-pair term is
    * 64×-damped — the q108 identity), both engines count tau-close
    * pairs, both tiers' co-location counts against the SAME session
    * codebooks q104/q111 train, and the acceptance
    * `n_deep/n_two >= bound` under the q108-style support gate (on
    * the two-level count — the comparison's denominator).
    *
    * Measured: sf1 112/113 = 0.9912; fixture SFs are below support
    * (1 pair at sf0.01, 9 at sf0.1 — vacuously true, the row's job is
    * the deep-scale regime); sf10/sf100 in BENCH_SCALING.md.
    */
  private val q112 = GraftQuery(
    "q112_semdedup_deep_recall_sampled",
    (s, d) => {
      import s.implicits._
      val cb2 = ivfScaledCodebook(s, d)
      val cb3 = ivf3ScaledCodebook(s, d)
      val samp = embeddings(s, d)
        .filter(size(col("embedding")) === cb3.dims)
        .filter(Corpus.bucket16($"vec_id", DeepRecallSalt)
          < DeepRecallHexBound)
      val truePairs = Dedup.embeddingNearDupPairs(
          samp, "vec_id", "embedding", SemDedupTau, blockCol = None)
        .select($"id_a", $"id_b")
      val cells = Ivf.assign(samp, "embedding", cb2, "two")
        .select($"vec_id", $"two")
        .join(Ivf.assign(samp, "embedding", cb3, "three")
          .select($"vec_id", $"three"), "vec_id")
      val counts = truePairs
        .join(cells.select($"vec_id".as("id_a"), $"two".as("ta"),
          $"three".as("ha")), "id_a")
        .join(cells.select($"vec_id".as("id_b"), $"two".as("tb"),
          $"three".as("hb")), "id_b")
        .select(
          count(lit(1)).as("n"),
          count(when($"ta".isNotNull && $"ta" === $"tb", 1)).as("n2"),
          count(when($"ha".isNotNull && $"ha" === $"hb", 1)).as("n3"))
        .collect()(0)
      val (n, n2, n3) = (counts.getLong(0), counts.getLong(1),
        counts.getLong(2))
      val ratio = if (n2 > 0) Some(n3.toDouble / n2) else None
      Seq((n, n2, n3, ratio.map(r => math.round(r * 1e4) / 1e4),
          n2 < DeepRecallMinSupport ||
            ratio.exists(_ >= DeepRecallBound)))
        .toDF("n_pairs", "n_two", "n_deep", "deep_over_two", "deep_ok")
    },
    oracleDyn = Some { (s, d) =>
      val cb2 = ivfScaledCodebook(s, d)
      val cb3 = ivf3ScaledCodebook(s, d)
      val sampCond =
        s" AND ${Corpus.bucket16Sql("vec_id", DeepRecallSalt)}" +
          s" < '$DeepRecallHexBound'"
      s"""
      WITH ${ivfAssignCtesSql(cb3, sampCond)},
      ${ivfAssignCtesSql(cb2, sampCond, prefix = "two_")},
      samp AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE len(embedding) = ${cb3.dims}$sampCond),
      tp AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM samp x JOIN samp y ON x.vec_id < y.vec_id
        WHERE ${Similarity.nonZeroNormSql("x.embedding")}
          AND ${Similarity.nonZeroNormSql("y.embedding")}
          AND ${Similarity.cosineSql("x.embedding", "y.embedding")}
                >= $SemDedupTau),
      co2 AS (
        SELECT tp.id_a, tp.id_b FROM tp
        JOIN two_a xa ON tp.id_a = xa.vec_id
        JOIN two_a xb ON tp.id_b = xb.vec_id
        WHERE xa.cell = xb.cell),
      co3 AS (
        SELECT tp.id_a, tp.id_b FROM tp
        JOIN a ya ON tp.id_a = ya.vec_id
        JOIN a yb ON tp.id_b = yb.vec_id
        WHERE ya.cell = yb.cell),
      n AS (SELECT (SELECT COUNT(*) FROM tp) AS n_pairs,
                   (SELECT COUNT(*) FROM co2) AS n_two,
                   (SELECT COUNT(*) FROM co3) AS n_deep)
      SELECT n_pairs, n_two, n_deep,
        CASE WHEN n_two > 0
          THEN ROUND(CAST(n_deep AS DOUBLE) / n_two, 4)
          END AS deep_over_two,
        CASE WHEN n_two >= $DeepRecallMinSupport
          THEN CAST(n_deep AS DOUBLE) / n_two >= $DeepRecallBound
          ELSE TRUE END AS deep_ok
      FROM n"""
    })

  val all: Seq[GraftQuery] = Seq(
    q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q72,
    q75, q79, q80, q81, q84, q89, q91, q95, q99, q100, q101, q102, q103, q104,
    q105, q106, q107, q108, q109, q110, q111, q112)
}
