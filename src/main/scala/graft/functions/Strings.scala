package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String-normalization column functions — SURVEY.md §2.8 string family.
  * Pure expression trees (codegen-friendly, no UDFs).
  */
object Strings {

  /** Sequential regex-replace pipeline — the taxa-name cleaner shape
    * (reference: ifcb-data-pipeline.Rmd:936-971, 15+ chained `gsub`;
    * richer rule sets at code/utils/clean_taxa_fn.R:31-64). Rules apply
    * in order; Catalyst folds the chain into one codegen stage.
    */
  def regexClean(rules: Seq[(String, String)])(c: Column): Column =
    rules.foldLeft(c) { case (acc, (pat, rep)) => regexp_replace(acc, pat, rep) }

  /** `str_to_sentence` (Rmd:762): first char upper, rest lower. */
  def sentenceCase(c: Column): Column =
    concat(upper(substring(c, 1, 1)), lower(c.substr(lit(2), length(c))))

  /** `str_squish`: trim + collapse internal whitespace runs. The class
    * is explicit (Hashing.WsClass), not `\s`, so SQL mirrors of squish
    * behave identically under RE2 (round-12 review; RE2's `\s` lacks
    * `\x0B`).
    */
  def squish(c: Column): Column =
    trim(regexp_replace(c, graft.functions.Hashing.WsClass, " "))

  // --- encoding normalization (SURVEY.md §2.8 "Encoding") ------------------

  /** Windows-1252 bytes → UTF-8 string (`iconv(from = "Windows-1252")`,
    * reference: ifcb-data-pipeline.Rmd:1426): legacy classifier paths and
    * headers arrive in the Windows codepage. Spark 4's `decode` whitelist
    * excludes windows-1252, so: decode as iso-8859-1 (identical outside
    * 0x80-0x9F), then translate the 27 codepage specials natively —
    * still a pure codegen expression chain, no UDF.
    */
  def decodeWin1252(bytes: Column): Column = {
    // windows-1252 0x80-0x9F -> Unicode (undefined slots pass through)
    val mapping = Seq(
      0x80 -> 0x20ac, 0x82 -> 0x201a, 0x83 -> 0x0192, 0x84 -> 0x201e,
      0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02c6,
      0x89 -> 0x2030, 0x8a -> 0x0160, 0x8b -> 0x2039, 0x8c -> 0x0152,
      0x8e -> 0x017d, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201c,
      0x94 -> 0x201d, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
      0x98 -> 0x02dc, 0x99 -> 0x2122, 0x9a -> 0x0161, 0x9b -> 0x203a,
      0x9c -> 0x0153, 0x9e -> 0x017e, 0x9f -> 0x0178)
    val from = mapping.map(_._1.toChar).mkString
    val to = mapping.map(_._2.toChar).mkString
    translate(decode(bytes, "iso-8859-1"), from, to)
  }

  /** Scandinavian-letter fold the reference applies to classifier names
    * ("Replace å in Tångesund", Rmd:861-863): å/Å→a/A, ä/Ä→a/A, ö/Ö→o/O.
    */
  def foldScandinavian(c: Column): Column =
    translate(c, "åÅäÄöÖ", "aAaAoO")

  /** µ-header cleanup (`gsub("μ", "u", colnames)`,
    * code/ifcb_ingest_and_qc.R:474): GREEK SMALL LETTER MU and the
    * Latin-1 MICRO SIGN both fold to "u".
    */
  def muToU(c: Column): Column = translate(c, "μµ", "uu")

  /** Windows path → basename (`basename(gsub("\\\\", "/", ...))`,
    * Rmd:1426): backslashes normalized, last path segment kept.
    */
  def pathBasename(c: Column): Column =
    element_at(split(regexp_replace(c, "\\\\", "/"), "/"), -1)

  /** The full classifier-name normalization chain the reference applies
    * before names reach deliveries (Rmd:861-863, 1426).
    */
  def normalizeClassifierName(c: Column): Column =
    foldScandinavian(muToU(pathBasename(c)))

  // --- lexicographic long carrier (optimization round 20) ------------------

  /** Order-isomorphic LONG carrier for lexicographic min/max over
    * strings of digits and '_' up to 15 chars. Each char maps to a hex
    * digit that preserves its ASCII order ('0'-'9' → '1'-'a' and
    * '_' → 'b', since '_' sorts above every digit), the result is
    * right-padded to 15 nibbles with '0' (end-of-string, sorting below
    * every real char — a prefix sorts before its extensions, exactly as
    * strings do), and the 15-nibble hex number is read as a long
    * (16^15 − 1 < Long.MaxValue, so no sign wrap). Numeric order of the
    * carrier therefore equals byte-lexicographic order of the source.
    *
    * Why (guide §4/§5): a min/max over a STRING column carries an
    * UnsafeRow-immutable buffer, and ONE such aggregate forces every
    * phase of the enclosing aggregation into SortAggregate — q90 was
    * map-side-sorting its full joined input for two string mins. A long
    * buffer keeps the whole chain in whole-stage-codegen HashAggregate;
    * [[lexCarrierDecode]] recovers the exact string from the aggregated
    * carrier. A null input gives a null carrier (a null is ignored by
    * min/max, as the string would be). Inputs longer than 15 chars, or
    * holding a char outside `[0-9_]`, raise at runtime — silent
    * truncation or a char that `translate` leaves unmapped would break
    * the order contract (15 digit chars cover TPC-H orderkeys past the
    * exabyte decade).
    */
  def lexCarrier(c: Column): Column =
    when(length(c) <= 15 && c.rlike("^[0-9_]*$"),
      conv(rpad(translate(c, "0123456789_", "123456789ab"), 15, "0"), 16, 10)
        .cast("long"))
      .when(c.isNotNull, raise_error(concat(
        lit("lexCarrier: input is not at most 15 chars of [0-9_]: "), c)))

  /** Inverse of [[lexCarrier]]: recovers the exact source string from an
    * aggregated carrier. Trailing '0' nibbles are end-of-string padding
    * (no real char encodes to 0), and `conv` emits uppercase hex.
    */
  def lexCarrierDecode(c: Column): Column =
    translate(
      regexp_replace(upper(lpad(conv(c, 10, 16), 15, "0")), "0+$", ""),
      "123456789AB", "0123456789_")
}
