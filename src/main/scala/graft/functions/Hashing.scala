package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import graft.plans.{MinHashesExpr, SimHash32Expr, SimHash64Expr, StringPolyHash, StringPolyHashArray,
  WordShinglesExpr, WordsExpr}

/** Deterministic text/sketch hashing used by the dedup operators —
  * engine-portable by construction: every hash is integer arithmetic over
  * code points, so the DuckDB oracle can evaluate the *same* function and
  * results compare exactly. Each Column builder has an `…Sql` twin
  * generated from the same constants (single source of truth).
  *
  * The Column builders delegate to the native codegen expressions in
  * [[graft.plans]] (one tight loop per row, including shingle assembly);
  * the SQL twins spell out the identical math for DuckDB.
  */
object Hashing {

  /** Polynomial rolling-hash modulus for token→int. */
  val TokP = 1000003L
  /** Content-fingerprint polynomial constants (multiplier, modulus,
    * seed) — named here so the SQL-function registry
    * ([[graft.plans.GraftExtensions]]) binds the SAME values instead of
    * re-hardcoding them.
    */
  val FpMult = 131L
  val FpMod = 1000000007L
  val FpSeed = 7L
  /** MinHash universe modulus. */
  val MinP = 100003L
  /** (a, b) pairs for the MinHash family h_i(x) = (a_i·x + b_i) mod MinP. */
  val MinHashSeeds: Seq[(Long, Long)] = Seq(
    (2L, 17L), (3L, 29L), (5L, 41L), (7L, 53L),
    (11L, 67L), (13L, 79L), (17L, 97L), (19L, 113L))
  /** Knuth multiplicative mixer for SimHash bit material. */
  val Mix = 2654435761L
  /** Second 32-bit mixer (xxhash prime 2) — supplies the high 32 bits of
    * the 64-bit SimHash; two 32-bit products keep every intermediate
    * below 2⁶³ so DuckDB can mirror the math without BIGINT overflow.
    */
  val Mix2 = 2246822519L
  val SimBits64 = 64

  /** The characters of Java's `\s`, for embedding in other character
    * classes (e.g. TextAnalysis.BpePattern's negated class). The split
    * class is EXPLICIT on both sides: Java's `\s` is `[ \t\n\x0B\f\r]`
    * while RE2's (DuckDB's) lacks `\x0B`, so a doc containing a vertical
    * tab would tokenize differently and every downstream sketch/score
    * would hash-diverge.
    */
  val WsChars = " \\t\\n\\x0B\\f\\r"
  val WsClass = s"[$WsChars]+"

  /** Whitespace word split, lowercased, empties dropped: Spark's
    * `lower`, then the native byte scan [[graft.plans.HashExpr.words]]
    * cutting on exactly the [[WsChars]] — the same words as
    * `filter(split(lower(text), WsClass), _ =!= "")` and as [[wordsSql]].
    */
  def words(text: Column): Column =
    GraftBridge.column(WordsExpr(GraftBridge.expression(lower(text))))

  def wordsSql(text: String): String =
    s"list_filter(regexp_split_to_array(lower($text), '$WsClass'), x -> x <> '')"

  /** k-word shingles (n-gram documents → dedup features), distinct in
    * first-occurrence order — native one-pass expression.
    */
  def shingles(ws: Column, k: Int): Column =
    GraftBridge.column(WordShinglesExpr(GraftBridge.expression(ws), k))

  /** SQL mirror: the gram construction is [[Corpus.ngramsSql]] (one copy
    * of the subtle slice arithmetic), and the distinct is an
    * ORDER-PRESERVING first-occurrence filter — `list_distinct` makes no
    * order guarantee, so an order-sensitive consumer of this "exact
    * mirror" could silently diverge from WordShinglesExpr.
    */
  def shinglesSql(ws: String, k: Int): String = {
    val g = Corpus.ngramsSql(ws, k)
    s"list_filter($g, (x, i) -> list_position($g, x) = i)"
  }

  /** Token-hash polynomial constants (multiplier, seed) — named so the
    * Column builders and every SQL mirror bind ONE copy.
    */
  val TokMult = 31L
  val TokSeed = 7L

  /** Rolling hash of one token: fold (acc·31 + codepoint) mod TokP, acc₀=7. */
  def tokHash(tok: Column): Column =
    GraftBridge.column(StringPolyHash(GraftBridge.expression(tok), TokMult, TokP, TokSeed))

  def tokHashSql(tok: String): String =
    // same empty-string guard as fingerprintSql: the kernel returns
    // the seed for '' while DuckDB's string_split('','')
    // folds [''] as ord -1 — unreachable from the 5-word shingle
    // callers, but this is a GENERAL mirror and the first oracle over
    // raw possibly-empty tokens would silently hash-diverge
    s"CASE WHEN $tok = '' THEN $TokSeed " +
      s"ELSE list_reduce(list_prepend($TokSeed::BIGINT, " +
      s"list_transform(string_split($tok, ''), " +
      s"c -> ord(c)::BIGINT)), (a, c) -> (a * $TokMult + c) % $TokP) END"

  /** Hashes of an array of tokens. */
  def tokHashes(toks: Column): Column =
    GraftBridge.column(StringPolyHashArray(GraftBridge.expression(toks), TokMult, TokP, TokSeed))

  def tokHashesSql(toks: String): String =
    s"list_transform($toks, t -> ${tokHashSql("t")})"

  /** All MinHashes of a token-hash array, one pass (array of
    * MinHashSeeds.length longs).
    */
  def minhashAll(th: Column): Column =
    GraftBridge.column(MinHashesExpr(GraftBridge.expression(th),
      MinHashSeeds.map(_._1), MinHashSeeds.map(_._2), MinP))

  /** i-th MinHash of a token-hash array. */
  def minhash(th: Column, i: Int): Column = element_at(minhashAll(th), i + 1)

  def minhashSql(th: String, i: Int): String = {
    val (a, b) = MinHashSeeds(i)
    // COALESCE mirrors the native kernel's empty-array sentinel
    // (Long.MaxValue per seed): list_min of an empty list is NULL in
    // DuckDB, and a NULL band key silently drops out of equality joins
    // while the sentinel groups — a latent pair-set divergence for any
    // caller that forgets the both-sides size>0 filter
    s"COALESCE(list_min(list_transform($th, h -> (h * $a + $b) % $MinP)), " +
      s"${Long.MaxValue})"
  }

  /** SimHash-32 of a token-hash array: bit j is the sign of Σ ±1 over
    * tokens, +1 when bit j of the mixed token hash is set.
    */
  def simhash(th: Column): Column =
    GraftBridge.column(SimHash32Expr(GraftBridge.expression(th), Mix))

  /** SimHash-64 of a token-hash array: bits 0-31 from the [[Mix]]ed hash,
    * bits 32-63 from the [[Mix2]]ed hash. 64 bits make 16-bit LSH bands
    * possible (65,536-way key space per band vs 256 for 32-bit — the
    * difference between a hash join and a disguised cross product at
    * scale).
    */
  def simhash64(th: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(th), Mix, Mix2))

  def simhash64Sql(th: String): String =
    (0 until SimBits64).map { j =>
      val (mix, bit) = if (j < 32) (Mix, j) else (Mix2, j - 32)
      // bit 63's weight is Long.MinValue; DuckDB rejects both the bare
      // literal and 1<<63, so spell it as (-(2^63-1) - 1). Summation order
      // (ascending j) keeps every partial sum inside BIGINT.
      val weight = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"(CASE WHEN CAST(list_sum(list_transform($th, h -> " +
        s"CASE WHEN ((h * $mix) % 4294967296 >> $bit) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0 " +
        s"THEN $weight ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Rolling fingerprint of a whole string (document fingerprinting —
    * normalized-content identity at 64-bit-collision safety).
    */
  def fingerprint(text: Column): Column =
    GraftBridge.column(StringPolyHash(GraftBridge.expression(text), FpMult, FpMod, FpSeed))

  def fingerprintSql(text: String): String =
    // empty-string guard (the minhashSql COALESCE class): DuckDB's
    // string_split('','') is [''] and ord('') folds as -1, yielding
    // 916, while the kernel folds ZERO code points and
    // returns the seed — q50's dup_key can be empty (whitespace-only
    // text), so the mirror must return the seed there too
    s"CASE WHEN $text = '' THEN $FpSeed " +
      s"ELSE list_reduce(list_prepend($FpSeed::BIGINT, " +
      s"list_transform(string_split($text, ''), " +
      s"c -> ord(c)::BIGINT)), (a, c) -> (a * $FpMult + c) % $FpMod) END"
}
