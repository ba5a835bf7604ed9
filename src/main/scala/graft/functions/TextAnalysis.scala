package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import graft.plans.WordStatsExpr

/** Text-analysis column functions for training-data pipelines: language
  * ID, quality scoring, token counting — the text slice of the brief's
  * large-scale-pipeline extensions. All pure expression trees; each has a
  * SQL twin for the DuckDB oracle where used.
  */
object TextAnalysis {

  /** Tiny per-language marker lexicons (n-gram-heuristic language ID).
    * Real deployments plug in fastText-style models via mapInPandas; the
    * relational skeleton — score per language, argmax with deterministic
    * tie-break, unknown fallback — is what this implements.
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "value"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "de"),
    "fr" -> Seq("le", "les", "des", "est", "une"),
    "zh" -> Seq("的", "了", "是", "在", "我"))

  /** One pass over a word array ([[graft.plans.HashExpr.wordStats]]):
    * the occurrences of each lexicon's words, in [[Lexicons]] order, then
    * the total character count, a null element counted as an empty word.
    */
  private def wordStats(ws: Column): Column =
    GraftBridge.column(WordStatsExpr(GraftBridge.expression(ws), Lexicons.map(_._2)))

  /** Occurrences of the `i`-th lexicon's words, from [[wordStats]]. */
  private def score(stats: Column, i: Int): Column = element_at(stats, i + 1).cast("int")

  private def scoreSql(ws: String, lex: Seq[String]): String =
    s"len(list_filter($ws, w -> w IN (${lex.map(l => s"'$l'").mkString(", ")})))"

  /** Predicted language: argmax lexicon hit count, ties to the earlier
    * lexicon in [[Lexicons]] order, all-zero → 'und'.
    *
    * Conditional-free shape: one `array_max` over (score, -index, lang)
    * structs — lexicographic max = highest score, ties to the larger
    * -index = the EARLIER lexicon, and an (0, +1, 'und') sentinel wins
    * exactly the all-zero case. Whole-stage codegen's common-subexpression
    * elimination shares only unconditionally evaluated subtrees, so with
    * no branch the word split and the [[wordStats]] pass run once per row,
    * also when [[qualityScore]] reads the same stats in one projection.
    */
  def langId(ws: Column): Column = {
    val stats = wordStats(ws)
    val packed = Lexicons.zipWithIndex.map { case ((lang, _), i) =>
      struct(score(stats, i).as("s"), lit(-i).as("ni"), lit(lang).as("lang"))
    } :+ struct(lit(0).as("s"), lit(1).as("ni"), lit("und").as("lang"))
    array_max(array(packed: _*)).getField("lang")
  }

  def langIdSql(ws: String): String = {
    val scores = Lexicons.map { case (lang, lex) => lang -> scoreSql(ws, lex) }
    val best = scores.map(_._2).reduce((a, b) => s"GREATEST($a, $b)")
    scores.foldRight("'und'") { case ((lang, s), rest) =>
      s"CASE WHEN $s = $best AND $best > 0 THEN '$lang' ELSE $rest END"
    }
  }

  /** Composite quality score in [0,1]: word-count saturation, stopword
    * ratio, mean-word-length saturation — the length/punct/stopword-ratio
    * battery (deterministic double arithmetic, no aggregation).
    */
  def qualityScore(ws: Column): Column = {
    val stats = wordStats(ws)
    val nWords = size(ws).cast("double")
    // empty/whitespace-only doc: every ratio divides by zero — Spark's
    // non-ANSI division returns null (doc lands in NO quality band,
    // silently) while DuckDB's IEEE division makes the mirror NaN, so
    // the engines would also disagree. A when(size==0, 0.0) guard would
    // put the ratios in a conditional branch, which whole-stage codegen's
    // common-subexpression elimination does not share, so the word split
    // and stats would run once per component. The GREATEST(n, 1)
    // denominator keeps ONE unconditional path: for n ≥ 1 it IS n
    // (bit-identical quotients), for n = 0 every component is exactly
    // +0.0 — the same 0.0 the branch produced.
    val denom = greatest(nWords, lit(1.0))
    val stopRatio = score(stats, 0).cast("double") / denom
    val meanLen = element_at(stats, Lexicons.size + 1).cast("double") / denom
    lit(0.4) * least(lit(1.0), nWords / 50.0) +
      lit(0.3) * stopRatio +
      lit(0.3) * least(lit(1.0), meanLen / 8.0)
  }

  def qualityScoreSql(ws: String): String = {
    val n = s"CAST(len($ws) AS DOUBLE)"
    val denom = s"GREATEST($n, 1.0)"
    val stop = scoreSql(ws, Lexicons.head._2)
    val meanLen = s"CAST(list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform($ws, w -> coalesce(length(w), 0)::BIGINT)), (a, b) -> a + b) AS DOUBLE) / $denom"
    // parens mirror the Column tree exactly: Spark computes
    // 0.3 * (stop / denom); the unparenthesized SQL would left-associate
    // to (0.3 * stop) / denom — 1 ULP apart, which flips floor(q * 1e6)
    // when q lands on an integer micro-unit (doc 45 at sf0.001: 439999
    // vs 440000). GREATEST(n, 1.0) mirrors the Column tree's empty-doc
    // guard (see qualityScore): identical quotients for n ≥ 1, exact
    // +0.0 for n = 0 on both engines.
    s"(0.4 * LEAST(1.0, $n / 50.0) + 0.3 * (CAST($stop AS DOUBLE) / $denom) + " +
      s"0.3 * LEAST(1.0, $meanLen / 8.0))"
  }

  /** Compression ratio (deflate/raw bytes) — the low-entropy corpus
    * filter: repetitive/templated text deflates far below natural prose.
    * Native codegen expression ([[graft.plans.DeflateRatioExpr]]); not
    * SQL-mirrorable, so oracle queries emit acceptance booleans over it
    * (the q53 pattern) and the exact bounds live in FunctionsSpec.
    */
  def compressionRatio(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.DeflateRatioExpr(
        org.apache.spark.sql.GraftBridge.expression(text), level))

  /** BPE-ish token count: letter runs, digit runs, single other glyphs
    * (the tokenizer-free token-count estimate).
    */
  // explicit whitespace chars, not `\s`: this literal
  // runs under Java regex on the Spark side and RE2 on the DuckDB side,
  // and RE2's `\s` lacks `\x0B` — a vertical tab would count as an
  // "other glyph" token in the oracle only. Single-sourced into the SQL
  // mirror below (the hardcoded-twin-constant rule).
  val BpePattern = s"[a-z]+|[0-9]+|[^a-z0-9${graft.functions.Hashing.WsChars}]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0)))

  def bpeTokenCountSql(text: String): String =
    s"len(regexp_extract_all(lower($text), '$BpePattern'))"
}
