package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Scalar function units + the SURVEY.md §5.3 property tests (scalacheck
  * generators sampled explicitly — the scalatest bridge isn't a dep).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 30): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("shingles produce k-grams, empty under k words") {
    val df = Seq("a b c d", "a b", "").toDF("t")
    val out = df.select(Hashing.shingles(Hashing.words($"t"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty && out(2).isEmpty)
  }

  test("ngrams keep multiplicity and position order; empty under k words") {
    val df = Seq("a b a b a", "a b", "").toDF("t")
    val out = df.select(Corpus.ngrams(Hashing.words($"t"), 2).as("g"))
      .as[Seq[String]].collect()
    // repetition metrics need the duplicate "a b"s shingles() would drop
    assert(out(0) == Seq("a b", "b a", "a b", "b a"))
    assert(out(1) == Seq("a b"))
    assert(out(2).isEmpty)
    // k = doc length: exactly one gram (the sequence(1,1) edge)
    val one = Seq("x y z").toDF("t")
      .select(Corpus.ngrams(Hashing.words($"t"), 3).as("g"))
      .as[Seq[String]].collect()
    assert(one(0) == Seq("x y z"))
  }

  test("ngrams/repetitionStats agree with naive reference on random word arrays") {
    val wordGen = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val docGen = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = samples(docGen, 60).map(_.mkString(" "))
    val out = docs.toDF("t").select(
      Corpus.ngrams(Hashing.words($"t"), 2).as("g2"),
      Corpus.repetitionStats(Hashing.words($"t")).as("st"))
      .as[(Seq[String], Seq[Long])].collect()
    docs.zip(out).foreach { case (doc, (g2, st)) =>
      val ws = doc.split("\\s+").filter(_.nonEmpty).toSeq
      val ref2 = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val ref3 = ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      assert(g2 == ref2, s"ngrams for '$doc'")
      val c2 = ref2.groupBy(identity).map(_._2.length.toLong)
      val c3 = ref3.groupBy(identity).map(_._2.length.toLong)
      val expected = Seq(
        if (c2.isEmpty) 0L else c2.max,
        ref2.length.toLong,
        c3.filter(_ > 1).sum,
        ref3.length.toLong)
      assert(st == expected, s"stats for '$doc'")
    }
  }

  test("repetitionStats match hand counts; short docs are all zeros") {
    val out = Seq("a b a b a", "x y", "solo", "")
      .toDF("t")
      .select(Corpus.repetitionStats(Hashing.words($"t")).as("s"))
      .as[Seq[Long]].collect()
    // "a b a b a": 2-grams [a b, b a, a b, b a] → top2=2, tot2=4;
    // 3-grams [a b a, b a b, a b a] → dup3=2 (the repeated a b a), tot3=3
    assert(out(0) == Seq(2L, 4L, 2L, 3L))
    assert(out(1) == Seq(1L, 1L, 0L, 0L)) // one 2-gram, no 3-grams
    assert(out(2) == Seq(0L, 0L, 0L, 0L))
    assert(out(3) == Seq(0L, 0L, 0L, 0L))
  }

  test("compressionRatio: repetition deflates below prose; empty is 1.0; deterministic") {
    val rows = Seq(
      ("rep", ("na " * 200).trim),
      ("prose", "the quick brown fox jumps over the lazy dog and then wanders far afield"),
      ("empty", ""))
      .toDF("k", "t")
      .select($"k", TextAnalysis.compressionRatio($"t").as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("rep") < 0.2, s"repetitive text should crush: ${rows("rep")}")
    assert(rows("prose") > rows("rep"))
    assert(rows("prose") > 0.3 && rows("prose") <= 1.2)
    assert(rows("empty") == 1.0)
    // same input, same ratio (fixed level, fixed JDK)
    val twice = Seq("abc def abc def xyz", "abc def abc def xyz").toDF("t")
      .select(TextAnalysis.compressionRatio($"t").as("r"))
      .as[Double].collect()
    assert(twice(0) == twice(1))
  }

  test("tokHash/fingerprint are deterministic and spread") {
    val toks = Seq("spark", "Spark", "spark ", "catalyst", "").toDF("t")
    val hs = toks.select(Hashing.tokHash($"t")).as[Long].collect()
    assert(hs.distinct.length == 5)
    assert(hs.forall(h => h >= 0 && h < Hashing.TokP))
    assert(toks.select(Hashing.tokHash($"t")).as[Long].collect().toSeq == hs.toSeq)
  }

  test("hashSplit proportions track the requested fractions on 20k ids") {
    val splits = spark.range(20000)
      .select(Corpus.hashSplit($"id", "uniformity").as("sp"))
      .groupBy($"sp").count()
      .as[(String, Long)].collect().toMap
    val n = splits.values.sum.toDouble
    assert(math.abs(splits("train") / n - 0.8) < 0.02, splits)
    assert(math.abs(splits("val") / n - 0.1) < 0.01, splits)
    assert(math.abs(splits("test") / n - 0.1) < 0.01, splits)
  }

  test("shuffleKey: permutation is partitioning-independent and salt-sensitive") {
    val ids = spark.range(2000).toDF("id")
    def order(df: org.apache.spark.sql.DataFrame, salt: String): Seq[Long] =
      df.select($"id", Corpus.shuffleKey($"id", salt).as("k"))
        .orderBy($"k", $"id").select($"id").as[Long].collect().toSeq
    val a = order(ids, "s1")
    val b = order(ids.repartition(13), "s1") // same permutation, any layout
    assert(a == b)
    val c = order(ids, "s2")
    assert(a != c, "different salt must reshuffle")
    assert(a.sorted == c.sorted) // same population
    // a real shuffle, not near-identity: few ids keep their position
    val fixed = a.zipWithIndex.count { case (id, i) => id == i.toLong }
    assert(fixed < 10, s"$fixed fixed points in 2000")
  }

  test("shardOf: 16 one-hex-char shards, uniform within 3x of each other") {
    val counts = spark.range(20000)
      .select(Corpus.shardOf(Corpus.shuffleKey($"id", "sh"), 1).as("s"))
      .groupBy($"s").count().as[(String, Long)].collect().toMap
    assert(counts.size == 16, counts.keys.toSeq.sorted)
    assert(counts.values.max < 3 * counts.values.min, counts)
  }

  test("hashSplit boundary fractions: trainFrac+valFrac == 1.0 leaves no test rows") {
    val ids = (0L until 2000L).toDF("id")
    // trainFrac + valFrac == 1.0: the val bound is 65536, which %04x
    // would render as the 5-char "10000" (< every 4-char hex string
    // lexicographically) — must behave as always-true instead
    val splits = ids.select(Corpus.hashSplit($"id", "s", 0.5, 0.5).as("sp"))
      .groupBy($"sp").count().as[(String, Long)].collect().toMap
    assert(!splits.contains("test"))
    assert(splits.keySet == Set("train", "val"))
    assert(splits("train") > 500 && splits("val") > 500) // roughly half each
    // trainFrac == 1.0: everything is train
    val all = ids.select(Corpus.hashSplit($"id", "s", 1.0, 0.0).as("sp"))
      .select($"sp").distinct().as[String].collect()
    assert(all.toSeq == Seq("train"))
    // SQL mirror renders the same always-true branch
    assert(Corpus.hashSplitSql("id", "s", 0.5, 0.5).contains("WHEN TRUE THEN 'val'"))
    assert(Corpus.hashSplitSql("id", "s", 1.0, 0.0).contains("WHEN TRUE THEN 'train'"))
  }

  test("simhash: identical docs → distance 0; near docs closer than far docs") {
    def sig(s: String): Long =
      Seq(s).toDF("t")
        .select(Hashing.simhash(Hashing.tokHashes(
          Hashing.shingles(Hashing.words($"t"), 3))).as("s"))
        .as[Long].head()
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy cat again and again today"
    val c = "catalyst optimizer rewrites logical plans into physical spark plans fast"
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sig(a), sig(a)) == 0)
    assert(ham(sig(a), sig(b)) < ham(sig(a), sig(c)))
  }

  test("taxa-cleaner idempotence (SURVEY §5.3): clean(clean(x)) == clean(x)") {
    val rules = Seq("\\b(spp|sp)\\.?\\b" -> "", "_+" -> " ")
    def clean(c: org.apache.spark.sql.Column) =
      Strings.sentenceCase(Strings.squish(Strings.regexClean(rules)(c)))
    val inputs = samples(
      Gen.listOf(Gen.oneOf("Skeletonema", "spp", "sp.", "marinoi", "_", "x")))
      .map(_.mkString(" "))
    val once = inputs.toDF("t").select(clean($"t")).as[String].collect()
    val twice = once.toSeq.toDF("t").select(clean($"t")).as[String].collect()
    assert(twice.toSeq == once.toSeq)
  }

  test("concat_ws skips nulls like unite(na.rm=TRUE) (SURVEY §5.3)") {
    val df = Seq((Some("a"), None: Option[String], Some("c"))).toDF("x", "y", "z")
    assert(df.select(concat_ws(", ", $"x", $"y", $"z")).as[String].head() == "a, c")
  }

  test("per-liter math: x*1000/ml == coeff*x (SURVEY §5.3)") {
    val cases = samples(Gen.zip(Gen.choose(1, 10000), Gen.choose(0.1, 50.0)))
    val got = cases.map { case (c, ml) => (c.toDouble, ml) }.toDF("x", "ml")
      .select(graft.agg.Biovolume.perLiter($"x", $"ml")).as[Double].collect()
    cases.zip(got).foreach { case ((count, ml), perL) =>
      val coeff = 1000.0 / ml * count
      assert(math.abs(perL - coeff) <= math.ulp(coeff) * 4, s"($count, $ml)")
    }
  }

  test("signifPos matches R signif on representative values") {
    // incl. exact ties (round-13 review): R signif rounds half to EVEN,
    // so signif(123450, 4) = 123400 and signif(123550, 4) = 123600 —
    // Spark's HALF_UP round() gave 123500 for the first
    val cases = Seq(123456.789 -> 123500.0, 99999.9 -> 100000.0,
      1234.0 -> 1234.0, 10000.0 -> 10000.0,
      123450.0 -> 123400.0, 123550.0 -> 123600.0)
    cases.foreach { case (in, want) =>
      val got = Seq(in).toDF("x").select(Nums.signifPos($"x", 4)).as[Double].head()
      assert(got == want, s"signif($in, 4)")
    }
  }

  test("langId picks argmax with deterministic ties and unknown fallback") {
    val df = Seq("the fast value", "der und das nicht", "xyPeople unrelated").toDF("t")
    val got = df.select(TextAnalysis.langId(Hashing.words($"t"))).as[String].collect()
    assert(got.toSeq == Seq("en", "de", "und"))
  }

  test("qualityScore: empty/whitespace docs score exactly 0.0, never null/NaN") {
    // the contract the GREATEST(n, 1) denominator exists for
    val got = Seq("", "   ", "\t\n", "the fast value").toDF("t")
      .select(TextAnalysis.qualityScore(Hashing.words($"t")).as("q"))
      .as[Double].collect()
    assert(got.take(3).forall(_ == 0.0), got.toSeq.toString)
    assert(got(3) > 0.0 && !got(3).isNaN)
  }

  /** The higher-order-function compositions the native word kernels
    * replace, kept as the reference they must equal.
    */
  private object Ref {
    def words(t: Column): Column = filter(split(lower(t), Hashing.WsClass), w => w =!= "")
    def hits(ws: Column, lex: Seq[String]): Column =
      size(filter(ws, w => lex.map(l => w === l).reduce(_ || _)))
    def chars(ws: Column): Column =
      aggregate(ws, lit(0L), (acc, w) => acc + coalesce(length(w), lit(0)))
    def langId(ws: Column): Column = {
      val packed = TextAnalysis.Lexicons.zipWithIndex.map { case ((lang, lex), i) =>
        struct(hits(ws, lex).as("s"), lit(-i).as("ni"), lit(lang).as("lang"))
      } :+ struct(lit(0).as("s"), lit(1).as("ni"), lit("und").as("lang"))
      array_max(array(packed: _*)).getField("lang")
    }
    def qualityScore(ws: Column): Column = {
      val nWords = size(ws).cast("double")
      val denom = greatest(nWords, lit(1.0))
      val stopRatio = hits(ws, TextAnalysis.Lexicons.head._2).cast("double") / denom
      val meanLen = chars(ws).cast("double") / denom
      lit(0.4) * least(lit(1.0), nWords / 50.0) +
        lit(0.3) * stopRatio +
        lit(0.3) * least(lit(1.0), meanLen / 8.0)
    }
  }

  private def wordStats(ws: Column): Column =
    GraftBridge.column(graft.plans.WordStatsExpr(
      GraftBridge.expression(ws), TextAnalysis.Lexicons.map(_._2)))

  /** Native columns paired with their references over `in`, each pair
    * equal on every row — doubles by raw bits. Checked twice: over a
    * local relation, which the optimizer folds with the interpreted
    * `eval`, and over an RDD scan, which runs the generated code.
    */
  private def assertSame(in: DataFrame, pairs: (String, Column, Column)*): Unit = {
    val rdd = spark.createDataFrame(
      spark.sparkContext.parallelize(in.collect().toSeq, 2), in.schema)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      case _ => a == b
    }
    def show(v: Any): String =
      String.valueOf(v).flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04X" else c.toString)
    for ((df, path) <- Seq(in -> "interpreted", rdd -> "codegen")) {
      val cols = pairs.flatMap { case (_, n, r) => Seq(n, r) }
      df.select(in.columns.toSeq.map(col) ++ cols: _*).collect().foreach { row =>
        pairs.zipWithIndex.foreach { case ((what, _, _), i) =>
          val (a, b) = (row.get(in.columns.length + 2 * i), row.get(in.columns.length + 2 * i + 1))
          assert(same(a, b),
            s"$path $what on '${show(row.get(0))}': native ${show(a)}, reference ${show(b)}")
        }
      }
    }
  }

  /** Text that exercises every cut the word split can make. */
  private val wordTexts: Seq[String] = {
    val words = Seq("the", "The", "THE", "der", "Die", "de", "la", "les", "value", "fast",
      "的", "了", "是", "å", "Å", "µ", "ÅSA", "naïve", "\uD835\uDD38x", "a", "x")
    val ws = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", "\u000B\u000B", " \t\r\n\f")
    val glue = Seq("\u00A0", "\u2003")
    val text = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n,
      Gen.frequency(5 -> Gen.oneOf(words), 3 -> Gen.oneOf(ws), 1 -> Gen.oneOf(glue))))
    Seq("", " ", "\u000B", " \t\n\u000B\f\r", "  lead", "trail  ", "a  b\t\tc",
      "a\u000Bb", "a\u00A0b", "x\u2003y", "的了 是", "\uD835\uDD38", "THE the The") ++
      samples(text, 200).map(_.mkString)
  }

  test("native words equals the split/filter composition, text by text") {
    val df = (wordTexts.map(Option(_)) :+ None).toDF("t")
    assertSame(df, ("words", Hashing.words($"t"), Ref.words($"t")))
    val got = Seq("a\u000Bb c\u00A0d x\u2003y\r\n").toDF("t")
      .select(Hashing.words($"t")).as[Seq[String]].head()
    assert(got == Seq("a", "b", "c\u00A0d", "x\u2003y"), "only the six WsChars cut")
  }

  test("word stats, langId and qualityScore equal their higher-order references") {
    val df = (wordTexts.map(Option(_)) :+ None).toDF("t")
    val lexPairs = TextAnalysis.Lexicons.zipWithIndex.map { case ((lang, lex), i) =>
      (s"$lang hits", element_at(wordStats(Hashing.words($"t")), i + 1),
        Ref.hits(Ref.words($"t"), lex).cast("long"))
    }
    assertSame(df, lexPairs ++ Seq(
      ("chars", element_at(wordStats(Hashing.words($"t")), TextAnalysis.Lexicons.size + 1),
        Ref.chars(Ref.words($"t"))),
      ("langId", TextAnalysis.langId(Hashing.words($"t")), Ref.langId(Ref.words($"t"))),
      ("qualityScore", TextAnalysis.qualityScore(Hashing.words($"t")),
        Ref.qualityScore(Ref.words($"t")))): _*)
  }

  test("word stats on arrays with null elements: no hit, an empty word") {
    val arrays: Seq[Seq[String]] = Seq(Seq("the", null, "a"), Seq(null), Seq(), null,
      Seq("der", "der", null, "的"), Seq("de", "la", "de"), Seq("", "the"), Seq("\uD835\uDD38", "µ"))
    val df = spark.createDataFrame(java.util.Arrays.asList(arrays.map(Row(_)): _*),
      StructType(Seq(StructField("ws", ArrayType(StringType, containsNull = true)))))
    val lexPairs = TextAnalysis.Lexicons.zipWithIndex.map { case ((lang, lex), i) =>
      (s"$lang hits", element_at(wordStats($"ws"), i + 1), Ref.hits($"ws", lex).cast("long"))
    }
    assertSame(df, lexPairs ++ Seq(
      ("chars", element_at(wordStats($"ws"), TextAnalysis.Lexicons.size + 1), Ref.chars($"ws")),
      ("langId", TextAnalysis.langId($"ws"), Ref.langId($"ws")),
      ("qualityScore", TextAnalysis.qualityScore($"ws"), Ref.qualityScore($"ws"))): _*)
    // a null element is an empty word: it adds no characters, so the
    // mean-length term of ["the", null, "a"] is (3 + 0 + 1) / 3, not a
    // null that `least` would skip and saturate at its full 0.3
    val got = df.select(
      element_at(wordStats($"ws"), TextAnalysis.Lexicons.size + 1),
      TextAnalysis.qualityScore($"ws")).collect().toSeq
    assert(got.map(r => Option(r.get(0))).take(4) == Seq(Some(4L), Some(0L), Some(0L), None),
      got.toString)
    val q = got(0).getDouble(1)
    assert(q == 0.4 * (3 / 50.0) + 0.3 * (2 / 3.0) + 0.3 * (4 / 3.0 / 8.0), got.toString)
    assert(math.abs(q - 0.274) < 1e-12, got.toString)
  }

  test("haversine: zero distance, known city pair, symmetry") {
    val df = Seq((57.7089, 11.9746, 59.3293, 18.0686)).toDF("a", "b", "c", "d")
    val gotExpr = Geo.haversineKm($"a", $"b", $"c", $"d")
    val d1 = df.select(gotExpr).as[Double].head()
    assert(math.abs(d1 - 397.0) < 5.0) // Göteborg→Stockholm ≈ 397 km
    val d2 = df.select(Geo.haversineKm($"c", $"d", $"a", $"b")).as[Double].head()
    assert(d1 == d2)
    assert(df.select(Geo.haversineKm($"a", $"b", $"a", $"b")).as[Double].head() == 0.0)
  }

  test("pointInPolygon: inside, outside, non-convex") {
    val poly = Seq((0.0, 0.0), (0.0, 4.0), (2.0, 2.0), (4.0, 4.0), (4.0, 0.0))
    val f = Geo.pointInPolygon(poly)
    val df = Seq((1.0, 1.0), (3.0, 3.5), (2.5, 2.0), (5.0, 5.0)).toDF("lat", "lon")
    val got = df.select(f($"lat", $"lon")).as[Boolean].collect().toSeq
    assert(got == Seq(true, false, true, false))
  }

  test("decodeWin1252 decodes legacy classifier bytes (å as 0xE5)") {
    // "Tångesund" in Windows-1252: å = 0xE5
    val bytes = "T\u00e5ngesund".getBytes("windows-1252")
    assert(bytes.contains(0xe5.toByte))
    val df = Seq(Tuple1(bytes)).toDF("raw")
    val got = df.select(Strings.decodeWin1252($"raw")).as[String].collect().head
    assert(got == "Tångesund")
  }

  test("normalizeClassifierName: path, å-fold, µ-fold chain") {
    val df = Seq("C:\\classifiers\\Tångesund_µm_v3.mat").toDF("c")
    val got = df.select(Strings.normalizeClassifierName($"c")).as[String].collect().head
    assert(got == "Tangesund_um_v3.mat")
    // GREEK MU (U+03BC) and MICRO SIGN (U+00B5) both fold
    val mu = Seq("a\u03bcm b\u00b5m").toDF("c")
    assert(mu.select(Strings.muToU($"c")).as[String].collect().head == "aum bum")
  }

  test("lexCarrier: long order == string order, decode round-trips (property)") {
    // q90's object_id tail domain: "<num>_<num>" plus prefix/edge shapes
    // where lexicographic and numeric order DISAGREE ("10_1" < "2_1",
    // "12_3" vs "123_4" — the '_' > digit tiebreak), and the extremes
    val edges = Seq("1", "9", "10_1", "2_1", "12_3", "123_4", "12_34",
      "1_1", "1_11", "11_1", "999999999999999", "100000000000_19", "0")
    val gen = for {
      a <- Gen.chooseNum(1L, 9999999999999L)
      b <- Gen.chooseNum(1L, 9L)
    } yield s"${a}_$b"
    val pool = (edges ++ samples(gen, 60)).distinct.filter(_.length <= 15)
    val rows = pool.toDF("s").select($"s",
        Strings.lexCarrier($"s").as("k"),
        Strings.lexCarrierDecode(Strings.lexCarrier($"s")).as("rt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    rows.foreach { case (s, _, rt) => assert(rt == s, s"round-trip $s -> $rt") }
    val byString = rows.sortBy(_._1).map(_._1)
    val byCarrier = rows.sortBy(_._2).map(_._1)
    assert(byCarrier.toSeq == byString.toSeq,
      "carrier order must equal lexicographic string order")
    // null in → null out, in a frame whose other rows are valid
    val withNull = (pool.map(Option(_)) :+ None).toDF("s")
      .select($"s", Strings.lexCarrier($"s").as("k"))
      .filter($"s".isNull).select($"k").as[Option[Long]].collect()
    assert(withNull.toSeq == Seq(None), "a null input must give a null carrier")
    // a char outside [0-9_] anywhere in an otherwise valid input raises
    // a named error instead of ordering wrong (':' sorts just above '9',
    // '-' and '.' below '0', letters above '_')
    val foreign = for {
      s <- Gen.oneOf(pool.filter(_.nonEmpty))
      at <- Gen.chooseNum(0, 14)
      ch <- Gen.oneOf(':', '-', '.', ' ', 'a', 'Z', '`', '\u00e5')
    } yield s.updated(math.min(at, s.length - 1), ch)
    samples(foreign, 8).foreach { bad =>
      val e = intercept[Exception] {
        Seq(bad).toDF("s").select(Strings.lexCarrier($"s")).collect()
      }
      assert(messages(e).exists(_.contains("lexCarrier")), s"$bad: $e")
    }
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))

  test("lexCarrier: >15 chars raises instead of silently truncating") {
    val e = intercept[Exception] {
      Seq("1234567890123456").toDF("s")
        .select(Strings.lexCarrier($"s")).collect()
    }
    assert(messages(e).exists(_.contains("lexCarrier")), e.toString)
  }
}
