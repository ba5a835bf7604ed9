package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Corpus, Hashing}

/** Iterative BPE merge training — the count→merge→re-pair loop that turns
  * q71's single-round pair census into an actual tokenizer trainer
  * (Sennrich et al. 2016's published algorithm: repeatedly merge the
  * corpus-wide most frequent adjacent symbol pair).
  *
  * Scale shape: the corpus collapses ONCE to the (word, freq) vocabulary
  * — merges only depend on distinct words and their frequencies, so every
  * round iterates over |vocab| rows, not corpus rows. Per round: one
  * map-side pair explode + one count shuffle with map-side combine + a
  * top-1 TakeOrdered (a single row to the driver — O(1) driver state),
  * then a map-side `replace` applies the merge. The vocab frame is
  * pinned each round (the [[Dedup.dupClusters]] loop
  * discipline) so lineage never compounds across rounds.
  *
  * Words are encoded as delimiter-framed symbol strings
  * (`|l||o||w|` for "low"): a merge of pair (a, b) is the literal
  * replacement `|a||b|` → `|ab|`, whose left-to-right non-overlapping
  * scan IS BPE's greedy one-pass merge — and the framing makes a
  * cross-symbol false match impossible. Both engines' `replace` share
  * those scan semantics, which is what makes the DuckDB oracle an exact
  * mirror (see [[graft.queries.CorpusBattery]] q74).
  */
object Bpe {

  /** Train the first `rounds` merges.
    *
    * @param docs    corpus frame
    * @param textCol whitespace-tokenizable text column
    * @param rounds  number of merges to learn; training stops early if
    *                every word collapses to a single symbol first
    * @param delim   symbol-frame delimiter; words containing it are
    *                dropped from the vocabulary (default U+0001 —
    *                absent from any text a tokenizer would train on)
    * @return one row per learned merge: (round, left, right, n) with
    *         `n` the corpus-wide occurrence count that won the round;
    *         ties break lexicographically on the space-joined pair, so
    *         training is deterministic across runs and partitionings
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int,
      delim: String = "\u0001"): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    // single CHARACTER, not just non-empty (round-12 review): the
    // symbol splits below use two-arg trim(), which strips a character
    // SET — a multi-char delim whose characters occur at word edges
    // would silently strip the word's own edge letters from the
    // vocabulary ("bob" framed with delim "ab" loses both b's)
    require(delim.length == 1,
      s"delimiter must be a single character, got '$delim'")
    val spark = docs.sparkSession
    import spark.implicits._
    val d2 = delim + delim
    val symbols = split(trim(col("s"), delim),
      java.util.regex.Pattern.quote(d2))
    // one corpus scan; every round reuses the vocab
    var vocab = graft.Frames.pin(docs
      .select(explode(Hashing.words(col(textCol))).as("w"))
      .filter(!col("w").contains(delim))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(
        concat(lit(delim),
          array_join(filter(split(col("w"), ""), c => c =!= ""), d2),
          lit(delim)).as("s"),
        col("freq")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = vocab
        .select(col("freq"), explode(Corpus.ngrams(symbols, 2)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true // all words are single symbols
      else {
        val pair = best(0).getString(0)
        val n = best(0).getLong(1)
        val Array(l, rt) = pair.split(" ", 2) // symbols never contain spaces
        merges += ((r, l, rt, n))
        vocab = graft.Frames.pin(vocab
          .withColumn("s", replace(col("s"),
            lit(delim + l + d2 + rt + delim), lit(delim + l + rt + delim))))
        r += 1
      }
    }
    merges.result().toDF("round", "left", "right", "n")
  }

  /** Per-word BPE token count after applying an ordered merge list —
    * the ENCODE side of the trainer: merges ship as reference-object
    * state inside ONE map-side expression (at 100 TB the merge table is
    * a few 10k rows of driver/broadcast state; encoding never
    * shuffles). Each word frames as in [[trainMerges]], the merges
    * replay in training order with the same greedy left-to-right
    * all-occurrence literal replace ([[graft.plans.ChainReplace]]), and
    * the token count is the surviving symbol count.
    *
    * Not a folded `replace` Column chain: that nests one node per
    * merge, so a production-sized merge list (~10k rounds) built a
    * ~10k-deep Catalyst tree that overflows the analyzer stack (the
    * cellAssign blowup class — round-11 review). BpeSpec pins the
    * native kernel against the textbook symbol-list fold and adds a
    * 10k-merge depth case.
    *
    * @param word   string column (one word, no whitespace; a word
    *               containing the delimiter frames ambiguously — its
    *               count is deterministic but not meaningful, matching
    *               [[trainMerges]] dropping such words from training)
    * @param merges ordered (left, right) pairs from [[trainMerges]]
    */
  def encodeTokenCount(word: org.apache.spark.sql.Column,
      merges: Seq[(String, String)], delim: String = "\u0001"): org.apache.spark.sql.Column = {
    require(delim.length == 1, // the trainMerges trim()-set contract
      s"delimiter must be a single character, got '$delim'")
    val d2 = delim + delim
    val framed = concat(lit(delim),
      array_join(filter(split(word, ""), c => c =!= ""), d2), lit(delim))
    val applied = org.apache.spark.sql.GraftBridge.column(
      graft.plans.ChainReplace(
        org.apache.spark.sql.GraftBridge.expression(framed),
        merges.map { case (l, r) => delim + l + d2 + r + delim },
        merges.map { case (l, r) => delim + l + r + delim }))
    size(split(trim(applied, delim), java.util.regex.Pattern.quote(d2)))
  }
}
