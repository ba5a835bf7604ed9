package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen word and hashing kernels for the text features and the
  * dedup sketches (SURVEY.md §2 + the brief's dedup/fingerprint
  * extensions).
  *
  * Why native: the portable Column compositions in
  * [[graft.functions.Hashing]] and [[graft.functions.TextAnalysis]] are
  * higher-order functions (filter/transform/aggregate), which Catalyst
  * evaluates interpreted — per element per row. These expressions
  * compute the identical functions (same constants, same math, same
  * DuckDB-oracle compatibility) in one tight JVM loop with `doGenCode`,
  * keeping the text and sketch pipeline inside whole-stage codegen:
  * [[words]] (the word split under every text feature), [[wordStats]]
  * (lexicon hits and character count for language ID and quality
  * scoring), then the shingle, hash, MinHash and SimHash kernels.
  * Measured ≳5× on the MinHash/SimHash queries; the two word kernels
  * halved the executor CPU of `CorpusPrep.run`.
  */
object HashExpr {

  /** Null array elements have no hash/gram semantics: they reach these
    * kernels only via the SQL-registry surface (the Column builders feed
    * containsNull=false arrays), where `getLong` silently reads 0 and
    * `getUTF8String` NPEs mid-stage — silently-wrong sketches or a raw
    * crash from user SQL. One cheap bitset pre-pass, loud reject.
    */
  private def noNulls(a: ArrayData, what: String): Unit = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$what: null array element at position $i — " +
            "filter nulls before hashing")
      i += 1
    }
  }

  /** One of the six bytes of [[graft.functions.Hashing.WsChars]]:
    * space, or `\t \n \x0B \f \r` (9-13).
    */
  private def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** The words of an already lowercased string: its maximal runs of
    * non-whitespace bytes, in order — exactly `split(s, WsClass)` with
    * the empty pieces dropped. A byte scan finds the same cuts as the
    * regex: every byte of a UTF-8 multibyte sequence is ≥ 0x80, so no
    * such sequence contains a whitespace byte, and non-ASCII spaces
    * (U+00A0, U+2003, …) are outside the class on both paths. The words
    * are views over one private copy of the bytes, so no caller can see
    * a reused input buffer change under them.
    */
  def words(s: UTF8String): ArrayData = {
    val n = s.numBytes
    val b = new Array[Byte](n)
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    var count = 0
    var i = 0
    while (i < n) {
      if (!isWs(b(i)) && (i == 0 || isWs(b(i - 1)))) count += 1
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (isWs(b(i))) i += 1
      val start = i
      while (i < n && !isWs(b(i))) i += 1
      out(k) = UTF8String.fromBytes(b, start, i - start)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** One pass over a word array: the hit count of each lexicon of
    * `lex`, in order, then the total character count. A null element
    * counts as an empty word: no lexicon hit and no characters, as
    * `size` already counts it as a word.
    */
  def wordStats(ws: ArrayData, lex: LexiconTable): ArrayData = {
    val out = new Array[Long](lex.size + 1)
    val n = ws.numElements()
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) {
        val w = ws.getUTF8String(i)
        out(lex.size) += w.numChars
        val hits = lex.hits(w)
        var j = 0
        while (j < hits.length) { out(hits(j)) += 1; j += 1 }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[stringPoly]] over each element of an array<string>. */
  def stringPolyArray(arr: ArrayData, mult: Long, mod: Long, seed: Long): ArrayData = {
    noNulls(arr, "string_poly_hash_array")
    val out = new Array[Long](arr.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = stringPoly(arr.getUTF8String(i), mult, mod, seed)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Rolling polynomial hash over code points:
    * fold (acc·mult + codepoint) mod m, from seed.
    */
  def stringPoly(s: UTF8String, mult: Long, mod: Long, seed: Long): Long = {
    val str = s.toString
    var acc = seed
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * mult + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Distinct k-word shingles, first-occurrence order. */
  def wordShingles(words: ArrayData, k: Int): ArrayData = {
    noNulls(words, "word_shingles")
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** All k-word n-grams WITH multiplicity, position order — repetition
    * metrics count recurrence, so [[wordShingles]]'s distinct set would
    * erase the signal.
    */
  def wordNgrams(words: ArrayData, k: Int): ArrayData = {
    noNulls(words, "word_ngrams")
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](n - k + 1)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document repetition statistics in one pass:
    * [top-2-gram count, total 2-grams, duplicated-3-gram occurrences,
    * total 3-grams]. The gram keyspace is per-document, so these never
    * needed a shuffle — a grouped count over exploded grams computes the
    * identical numbers with a full (doc, gram) exchange.
    */
  def repetitionStats(words: ArrayData): ArrayData = {
    noNulls(words, "repetition_stats")
    val n = words.numElements()
    val sep = UTF8String.fromString(" ")
    def counts(k: Int): java.util.HashMap[UTF8String, Long] = {
      val m = new java.util.HashMap[UTF8String, Long]()
      var i = 0
      while (i <= n - k) {
        val parts = new Array[UTF8String](k)
        var j = 0
        while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
        val key = UTF8String.concatWs(sep, parts: _*)
        m.put(key, m.getOrDefault(key, 0L) + 1L)
        i += 1
      }
      m
    }
    var top2 = 0L
    counts(2).values.forEach { v => if (v > top2) top2 = v }
    var dup3 = 0L
    counts(3).values.forEach { v => if (v > 1) dup3 += v }
    val tot2 = if (n >= 2) (n - 1).toLong else 0L
    val tot3 = if (n >= 3) (n - 2).toLong else 0L
    UnsafeArrayData.fromPrimitiveArray(Array(top2, tot2, dup3, tot3))
  }

  /** One-pass MinHash family over a long array. */
  def minHashes(th: ArrayData, as: Array[Long], bs: Array[Long], mod: Long): ArrayData = {
    noNulls(th, "min_hashes")
    val n = th.numElements()
    val out = Array.fill[Long](as.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = th.getLong(i)
      var j = 0
      while (j < as.length) {
        val v = (h * as(j) + bs(j)) % mod
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One-pass SimHash-64: two 32-bit mixes supply the 64 bits of material
    * (each product stays < 2⁶³, so the DuckDB oracle can evaluate the
    * identical math without BIGINT overflow — a single 64-bit mixer could
    * not be mirrored there).
    */
  def simHash64(th: ArrayData, mixLo: Long, mixHi: Long): Long = {
    noNulls(th, "sim_hash64")
    val counts = new Array[Int](64)
    val n = th.numElements()
    var i = 0
    while (i < n) {
      val h = th.getLong(i)
      val lo = (h * mixLo) % 4294967296L
      val hi = (h * mixHi) % 4294967296L
      var j = 0
      while (j < 32) {
        if (((lo >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        if (((hi >> j) & 1L) == 1L) counts(j + 32) += 1 else counts(j + 32) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** One-pass SimHash-32 with the Knuth mixer. */
  def simHash32(th: ArrayData, mix: Long): Long = {
    noNulls(th, "sim_hash32")
    val counts = new Array[Int](32)
    val n = th.numElements()
    var i = 0
    while (i < n) {
      val m = (th.getLong(i) * mix) % 4294967296L
      var j = 0
      while (j < 32) {
        if (((m >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}

/** Lexicon lookup for [[HashExpr.wordStats]]: each distinct entry
  * maps to the indices of the lexicons that list it, so a word scores
  * once per lexicon however often that lexicon repeats it.
  */
final class LexiconTable(lexicons: Seq[Seq[String]]) extends Serializable {
  val size: Int = lexicons.length
  private val index = new java.util.HashMap[UTF8String, Array[Int]]()
  for ((lex, i) <- lexicons.zipWithIndex; w <- lex.distinct)
    index.merge(UTF8String.fromString(w), Array(i), _ ++ _)
  private val maxBytes =
    lexicons.flatten.map(_.getBytes("UTF-8").length).maxOption.getOrElse(-1)
  private val none = Array.empty[Int]

  /** The lexicons that list `w`, in order. */
  def hits(w: UTF8String): Array[Int] =
    if (w.numBytes > maxBytes) none else index.getOrDefault(w, none)
}

/** The words of a lowercased string ([[HashExpr.words]]); the child is
  * Spark's `lower(text)`, so case mapping stays Spark's own.
  */
case class WordsExpr(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.words(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashExpr.words($c)")
  override protected def withNewChildInternal(newChild: Expression): WordsExpr =
    copy(child = newChild)
  override def prettyName: String = "words"
}

/** Per-lexicon hit counts plus the character count of an array<string>
  * ([[HashExpr.wordStats]]): `lexicons.length + 1` longs, a null
  * element counted as an empty word.
  */
case class WordStatsExpr(child: Expression, lexicons: Seq[Seq[String]])
  extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val table = new LexiconTable(lexicons)
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.wordStats(input.asInstanceOf[ArrayData], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("lexicons", table, classOf[LexiconTable].getName)
    defineCodeGen(ctx, ev, c => s"graft.plans.HashExpr.wordStats($c, $t)")
  }
  override protected def withNewChildInternal(newChild: Expression): WordStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "word_stats"
}

/** `stringPoly` over a string column. */
case class StringPolyHash(child: Expression, mult: Long, mod: Long, seed: Long)
  extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.stringPoly(input.asInstanceOf[UTF8String], mult, mod, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HashExpr.stringPoly($c, ${mult}L, ${mod}L, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): StringPolyHash =
    copy(child = newChild)
  override def prettyName: String = "string_poly_hash"
}

/** `stringPoly` mapped over an array<string> column (shingle hashes). */
case class StringPolyHashArray(child: Expression, mult: Long, mod: Long, seed: Long)
  extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.stringPolyArray(input.asInstanceOf[ArrayData], mult, mod, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HashExpr.stringPolyArray($c, ${mult}L, ${mod}L, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): StringPolyHashArray =
    copy(child = newChild)
  override def prettyName: String = "string_poly_hash_array"
}

/** MinHash family over an array<long> of element hashes. */
case class MinHashesExpr(child: Expression, as: Seq[Long], bs: Seq[Long], mod: Long)
  extends UnaryExpression with Serializable {
  require(as.length == bs.length)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val asArr = as.toArray
  @transient private lazy val bsArr = bs.toArray
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.minHashes(input.asInstanceOf[ArrayData], asArr, bsArr, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhAs", asArr, "long[]")
    val bsRef = ctx.addReferenceObj("mhBs", bsArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HashExpr.minHashes($c, $asRef, $bsRef, ${mod}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "min_hashes"
}

/** SimHash-32 over an array<long> of element hashes. */
case class SimHash32Expr(child: Expression, mix: Long)
  extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.simHash32(input.asInstanceOf[ArrayData], mix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashExpr.simHash32($c, ${mix}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
  override def prettyName: String = "sim_hash32"
}

/** SimHash-64 over an array<long> of element hashes. */
case class SimHash64Expr(child: Expression, mixLo: Long, mixHi: Long)
  extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.simHash64(input.asInstanceOf[ArrayData], mixLo, mixHi)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HashExpr.simHash64($c, ${mixLo}L, ${mixHi}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
  override def prettyName: String = "sim_hash64"
}

/** Distinct k-word shingles from an array<string> of words, one pass:
  * the HOF composition (sequence → transform → concat_ws → array_distinct)
  * evaluates interpreted and array_distinct is O(n²) per row; this builds
  * the distinct set with a hash set while assembling.
  */
case class WordShinglesExpr(child: Expression, k: Int)
  extends UnaryExpression with Serializable {
  require(k >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.wordShingles(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashExpr.wordShingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** Per-document repetition stats [top2, tot2, dup3, tot3] over a word
  * array — the metrics are per-row scalars, so the whole repetition
  * filter stays map-side (see [[HashExpr.repetitionStats]]).
  */
case class RepetitionStatsExpr(child: Expression)
  extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.repetitionStats(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashExpr.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

/** k-word n-grams with multiplicity (q65 repetition metrics): same
  * one-pass assembly as [[WordShinglesExpr]] minus the distinct set.
  */
case class WordNgramsExpr(child: Expression, k: Int)
  extends UnaryExpression with Serializable {
  require(k >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashExpr.wordNgrams(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashExpr.wordNgrams($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

/** Sequential literal replace chain — the BPE merge-application kernel
  * ([[graft.operators.Bpe.encodeTokenCount]]): applies each
  * (search(i) → repl(i)) pair in order with all-occurrence literal
  * replacement, exactly like a fold of Spark's `replace` Column — but
  * as ONE expression node. The folded Column form nests one `replace`
  * per merge, so a production-sized merge list (~10k rounds) built a
  * ~10k-deep Catalyst tree that StackOverflowErrors during analysis
  * (the cellAssign blowup class — round-11 review); here the merge
  * lists ride as reference objects and tree depth stays 1 at any merge
  * count.
  */
object ChainReplaceExpr {
  def apply(s: UTF8String, search: Array[String], repl: Array[String]): UTF8String = {
    var cur = s.toString
    var i = 0
    while (i < search.length) {
      cur = cur.replace(search(i), repl(i))
      i += 1
    }
    UTF8String.fromString(cur)
  }
}

/** Search/replace params are Seq, not Array (round-12 review): Array
  * case fields compare by reference, defeating semanticEquals and
  * subexpression elimination for structurally-identical nodes — a
  * duplicated encode column would run the full merge chain once per
  * occurrence per row (the MinHashesExpr pattern).
  */
case class ChainReplace(child: Expression, search: Seq[String], repl: Seq[String])
  extends UnaryExpression with Serializable {
  require(search.length == repl.length,
    s"search/replace lists differ: ${search.length} vs ${repl.length}")
  // Java's String.replace("", r) INSERTS r between every character while
  // Spark's StringReplace no-ops on an empty search — an empty entry
  // would silently break the documented fold-of-replace contract
  // (round-14 review); unreachable from Bpe's delimiter-framed strings,
  // but the expression is public
  require(search.forall(_.nonEmpty), "empty search string in replace chain")
  override def dataType: DataType = StringType
  @transient private lazy val searchArr = search.toArray
  @transient private lazy val replArr = repl.toArray
  override protected def nullSafeEval(input: Any): Any =
    ChainReplaceExpr(input.asInstanceOf[UTF8String], searchArr, replArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("search", searchArr, "java.lang.String[]")
    val r = ctx.addReferenceObj("repl", replArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.ChainReplaceExpr.apply($c, $s, $r)")
  }
  override protected def withNewChildInternal(newChild: Expression): ChainReplace =
    copy(child = newChild)
  override def prettyName: String = "chain_replace"
}
