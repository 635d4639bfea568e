package graft

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.functions.expressions.NativeExpressions

/** Randomized (seeded, deterministic) equivalence checks: each native kernel
  * must agree with an independent Scala reference implementation of the
  * portable arithmetic on adversarial inputs (mixed whitespace, empty
  * strings, repeated tokens).
  */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private val ws = Seq(' ', '\t', '\n', '\r', '\f')
  private def randString(): String = (0 until rnd.nextInt(60)).map { _ =>
    if (rnd.nextInt(4) == 0) ws(rnd.nextInt(ws.length))
    else ('!' + rnd.nextInt(94)).toChar
  }.mkString

  private val samples: Seq[String] = Seq("", " ", "\t\n", "a", "a b  c") ++
    (0 until 200).map(_ => randString())

  // Scala reference implementations of the portable arithmetic
  private def refTokens(s: String): Seq[String] =
    s.split("\\s+").filter(_.nonEmpty).toSeq
  private def refHash(s: String, mod: Long): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % mod)
  private def refShingles(th: Seq[Long], n: Int): Seq[Long] =
    th.sliding(n).filter(_.length == n)
      .map(_.foldLeft(0L)((h, x) => (h * PortableHash.B + x) % PortableHash.P))
      .toSeq.distinct

  test("tokenize kernel == regex split reference on random inputs") {
    val df = samples.toDF("s")
    val got = df.select(NativeExpressions.tokenize(col("s"))).collect()
      .map(_.getSeq[String](0).toSeq)
    samples.zip(got).foreach { case (s, g) => assert(g == refTokens(s), s"input=$s") }
  }

  test("polyHash kernel == fold reference") {
    val df = samples.toDF("s")
    val got = df.select(NativeExpressions.polyHash(col("s"), PortableHash.P)).collect()
      .map(_.getLong(0))
    samples.zip(got).foreach { case (s, g) => assert(g == refHash(s, PortableHash.P)) }
  }

  test("tokenPolyHashes kernel == per-token fold reference") {
    val df = samples.toDF("s")
    val got = df.select(NativeExpressions.tokenPolyHashes(col("s"), PortableHash.P))
      .collect().map(_.getSeq[Long](0).toSeq)
    samples.zip(got).foreach { case (s, g) =>
      assert(g == refTokens(s).map(refHash(_, PortableHash.P)))
    }
  }

  test("shingleHashSet kernel == sliding-Horner-distinct reference") {
    val df = samples.toDF("s")
    val got = df
      .select(NativeExpressions.shingleHashSet(
        NativeExpressions.tokenPolyHashes(col("s"), PortableHash.P),
        3, PortableHash.B, PortableHash.P))
      .collect().map(_.getSeq[Long](0).toSet)
    samples.zip(got).foreach { case (s, g) =>
      assert(g == refShingles(refTokens(s).map(refHash(_, PortableHash.P)), 3).toSet)
    }
  }

  test("shingleHashesAll kernel == declarative transform(sequence) form") {
    // reference: the exact higher-order-function expression the kernel
    // replaced — positional, duplicates kept, empty when size(th) < n
    for (n <- Seq(2, 8)) {
      val th = NativeExpressions.tokenPolyHashes(col("s"), PortableHash.P)
      val declarative = when(size(th) >= n,
        transform(sequence(lit(0), size(th) - n), i =>
          (0 until n).foldLeft(lit(0L): Column)((h, j) =>
            (h * lit(PortableHash.B) + element_at(th, i + j + 1)) % lit(PortableHash.P))))
        .otherwise(array().cast("array<bigint>"))
      val rows = samples.toDF("s")
        .select(PortableHash.shingleHashes(th, n).as("k"), declarative.as("d"))
        .collect()
      samples.zip(rows).foreach { case (s, r) =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n input=$s")
      }
    }
  }

  test("minHashSig kernel == min-over-permutations reference") {
    val coefs = PortableHash.minHashCoefs(8)
    val withToks = samples.filter(refTokens(_).length >= 2)
    val df = withToks.toDF("s")
    val got = df.select(NativeExpressions.minHashSig(
        NativeExpressions.tokenPolyHashes(col("s"), PortableHash.P),
        2, coefs.map(_._1), coefs.map(_._2), PortableHash.B, PortableHash.P))
      .collect().map(_.getSeq[Long](0).toSeq)
    withToks.zip(got).foreach { case (s, g) =>
      val sh = refShingles(refTokens(s).map(refHash(_, PortableHash.P)), 2)
      val want = coefs.map { case (a, b) => sh.map(x => (a * x + b) % PortableHash.P).min }
      assert(g == want, s"input=$s")
    }
  }

  test("deletionVariantHashes kernel == hash-of-materialized-variants reference") {
    // reference: materialize every <=k-deletion variant (on code points),
    // dedup as STRINGS, hash each with the same wrapping polynomial
    def refVariants(s: String, k: Int): Set[String] = {
      val cps = s.codePoints().toArray
      def drop(ix: Set[Int]): String =
        new String(cps.zipWithIndex.filterNot(t => ix(t._2)).map(_._1), 0,
          cps.length - ix.size)
      val one = (0 until cps.length).map(i => Set(i))
      val two = for (i <- 0 until cps.length; j <- i + 1 until cps.length) yield Set(i, j)
      (Seq(Set.empty[Int]) ++ (if (k >= 1) one else Nil) ++
        (if (k >= 2) two else Nil)).map(drop).toSet
    }
    def refHash64(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((h, c) => h * 1099511628211L + c)
    for (k <- 1 to 2) {
      val strs = samples.map(_.take(20))
      val got = strs.toDF("s")
        .select(NativeExpressions.deletionVariantHashes(col("s"), k))
        .collect().map(_.getSeq[Long](0).toSet)
      strs.zip(got).foreach { case (s, g) =>
        assert(g == refVariants(s, k).map(refHash64), s"k=$k input=$s")
      }
    }
  }

  test("winnowHashes kernel == sliding-min-over-shingles reference across n and w") {
    def refWinnow(s: String, n: Int, w: Int): Seq[Long] = {
      val sh = refTokens(s).map(t => refHash(t, PortableHash.P))
        .sliding(n).filter(_.length == n)
        .map(_.foldLeft(0L)((h, x) => (h * PortableHash.B + x) % PortableHash.P))
        .toVector
      if (sh.isEmpty) Seq.empty
      else if (sh.size < w) Seq(sh.min)
      else sh.sliding(w).map(_.min).toVector.distinct
    }
    for (n <- Seq(1, 2, 4); w <- Seq(1, 3, 5)) {
      val df = samples.toDF("s")
      val got = df.select(NativeExpressions.winnowHashes(
          NativeExpressions.tokenPolyHashes(col("s"), PortableHash.P), n, w,
          PortableHash.B, PortableHash.P)).collect()
        .map(_.getSeq[Long](0).toSet)
      samples.zip(got).foreach { case (s, g) =>
        assert(g == refWinnow(s, n, w).toSet, s"n=$n w=$w input=$s")
      }
    }
  }

  test("cosineF kernel == sequential fold reference") {
    val vecs = (0 until 50).map(_ => (
      Array.fill(16)(rnd.nextFloat() - 0.5f), Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = vecs.toDF("a", "b")
    val got = df.select(NativeExpressions.cosineF(col("a"), col("b"))).collect().map(_.getDouble(0))
    vecs.zip(got).foreach { case ((a, b), g) =>
      def fold(xs: Seq[Double]) = xs.foldLeft(0.0)(_ + _)
      val dot = fold(a.zip(b).map { case (x, y) => x.toDouble * y.toDouble })
      val na = fold(a.map(x => x.toDouble * x.toDouble))
      val nb = fold(b.map(x => x.toDouble * x.toDouble))
      assert(g == dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  test("sortedIntersectCount kernel == size(array_intersect) on random sorted sets") {
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 60).map { _ =>
      def set() = Seq.fill(rnd.nextInt(40))(rnd.nextInt(50).toLong).distinct.sorted
      (set(), set())
    }
    val df = pairs.toDF("a", "b")
    val got = df.select(NativeExpressions.sortedIntersectCount(col("a"), col("b")),
      size(array_intersect(col("a"), col("b")))).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // includes empties (nextInt(40) can be 0) and full overlap
    val full = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))).toDF("a", "b")
    assert(full.select(NativeExpressions.sortedIntersectCount(col("a"), col("b")))
      .collect().head.getInt(0) == 3)
  }

  test("sortedIntersectCount int dispatch == long path on the same sets (incl. Int.MaxValue-1 boundary)") {
    // the int-packed shingle representation (values mod P = 2^31−1) must
    // count identically to the long form — same sets, both element types
    val rnd = new scala.util.Random(23)
    val pairs = (1 to 60).map { _ =>
      // bias values toward the P boundary so the int path sees the
      // largest representable shingle hashes (P−1 = Int.MaxValue−1)
      def set() = Seq.fill(rnd.nextInt(40))(
        if (rnd.nextBoolean()) rnd.nextInt(50) else Int.MaxValue - 1 - rnd.nextInt(3))
        .distinct.sorted
      (set(), set())
    }
    val df = pairs.toDF("a", "b")
    val viaInt = df.select(NativeExpressions.sortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    val viaLong = df.select(NativeExpressions.sortedIntersectCount(
        col("a").cast("array<long>"), col("b").cast("array<long>")))
      .collect().map(_.getInt(0)).toSeq
    val oracle = df.select(size(array_intersect(col("a"), col("b"))))
      .collect().map(_.getInt(0)).toSeq
    assert(viaInt == viaLong && viaInt == oracle)
    // mixed element types are a loud analysis error, never a wrong count
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(NativeExpressions.sortedIntersectCount(
        col("a"), col("b").cast("array<long>"))).collect()
    }
  }

  test("scriptCounts kernel == regexp_replace counting on multilingual inputs") {
    // adversarial: mixed scripts, whitespace, and supplementary-plane
    // codepoints (emoji — surrogate PAIRS in the UTF-16 loop, ONE char to
    // both numChars and Java-regex character classes)
    val rnd = new scala.util.Random(7)
    val pools: Seq[Seq[Int]] = Seq(
      (('A' to 'Z') ++ ('a' to 'z')).map(_.toInt),
      ('0' to '9').map(_.toInt),
      (0x4e00 to 0x4e20).toSeq, (0x0400 to 0x0420).toSeq, (0x0600 to 0x0620).toSeq,
      Seq(' ', '\n', '\t', '.', '#').map(_.toInt) ++ Seq(0x1F600, 0x1F680, 0x00e9, 0x20ac))
    def randMulti(): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(80)).foreach { _ =>
        val p = pools(rnd.nextInt(pools.length))
        sb.appendAll(Character.toChars(p(rnd.nextInt(p.length))))
      }
      sb.toString
    }
    val inputs = Seq("", " ", "é", "😀") ++ (0 until 200).map(_ => randMulti())
    val df = inputs.toDF("s")
    def cnt(range: String): Column =
      length(regexp_replace(col("s"), s"[^$range]", "")).cast("long")
    val got = df.select(
      NativeExpressions.scriptCounts(col("s")).as("k"),
      array(length(col("s")).cast("long"), cnt("A-Za-z"), cnt("0-9"),
        cnt("\\x{4e00}-\\x{9fff}"), cnt("\\x{0400}-\\x{04ff}"),
        cnt("\\x{0600}-\\x{06ff}"), cnt(" ")).as("r")).collect()
    got.zip(inputs).foreach { case (row, s) =>
      assert(row.getSeq[Long](0) == row.getSeq[Long](1), s"input=$s")
    }
  }

  test("normalizeText kernel == regex-chain formulation on multilingual inputs") {
    // same adversarial pool as scriptCounts: mixed scripts, whitespace
    // (incl. \\u000B \f \r — java \s members), punctuation, digits,
    // uppercase, supplementary-plane codepoints, é (lowercases to itself,
    // non-alnum → space), plus all-whitespace and empty strings
    val rnd = new scala.util.Random(23)
    val pool: Seq[Int] =
      (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).map(_.toInt) ++
        Seq(' ', ' ', '\t', '\n', '\u000B', '\f', '\r', '.', ',', '#', '-').map(_.toInt) ++
        Seq(0x4e00, 0x0400, 0x0600, 0x1F600, 0x00e9, 0x00c9, 0x20ac)
    def randMulti(): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(60)).foreach { _ =>
        sb.appendAll(Character.toChars(pool(rnd.nextInt(pool.length)))) }
      sb.toString
    }
    val inputs = Seq("", " ", "\t\n ", "A.b,C", "  a  b  ", "É😀9") ++
      (0 until 300).map(_ => randMulti())
    val df = inputs.toDF("s")
    val regexForm = trim(regexp_replace(
      regexp_replace(lower(col("s")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    val got = df.select(NativeExpressions.normalizeText(col("s")), regexForm).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getString(0) == r.getString(1), s"input=${s.map(_.toInt)}")
    }
  }

  test("subwordCount kernel == regexp_extract_all count on case-run boundaries") {
    // adversarial around the ordered-alternation boundaries: ABc (upper
    // run then lone lowercase), Abc (title case), AAbc, aB, digit runs,
    // punctuation singles, supplementary-plane chars (one match, not two)
    val rnd = new scala.util.Random(31)
    val frags = Seq("A", "a", "0", "Ab", "AB", "ABc", "AAbc", "aB", "a1",
      "Hello", "HTTPServer", "camelCase", "x2y", ".", ",", "#", "😀", " ", "\t", "\n")
    def randDoc(): String =
      (0 until rnd.nextInt(25)).map(_ => frags(rnd.nextInt(frags.length))).mkString
    val inputs = Seq("", " ", "ABcDEfg0 12..", "é É") ++ (0 until 300).map(_ => randDoc())
    val df = inputs.toDF("s")
    val got = df.select(
      NativeExpressions.subwordCount(col("s")),
      size(regexp_extract_all(col("s"),
        lit(graft.text.TextAnalysis.subwordPattern), lit(0))).cast("long")).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"input=$s")
    }
  }

  test("runCountInSet kernel == regexp_extract_all run count") {
    val rnd = new scala.util.Random(37)
    def randDoc(): String = (0 until rnd.nextInt(80)).map { _ =>
      "a e i o u y A E b c . ! ? , x".split(" ")(rnd.nextInt(15)).charAt(0)
    }.mkString
    val inputs = Seq("", "...", "a", "!?.", "aeiou", "xxx", ".a.", "!!b??") ++
      (0 until 300).map(_ => randDoc())
    val df = inputs.toDF("s")
    for (set <- Seq(".!?", "aeiouyAEIOUY")) {
      val escaped = set.replace(".", "\\.").replace("!", "!").replace("?", "\\?")
      val got = df.select(
        NativeExpressions.runCountInSet(col("s"), set),
        size(regexp_extract_all(col("s"), lit(s"[$escaped]+"), lit(0))).cast("long")).collect()
      got.zip(inputs).foreach { case (r, s) =>
        assert(r.getLong(0) == r.getLong(1), s"set=$set input=$s")
      }
    }
  }

  test("langIdPick kernel == array_max over per-profile filter scores") {
    // docs salted with profile words from multiple languages (incl. the
    // fr/es shared tokens), mixed case, plus empty/no-hit docs where the
    // all-zero tie must pick the binary-largest lang
    val rnd = new scala.util.Random(41)
    val profiles = graft.text.TextAnalysis.langProfiles
    val vocab = profiles.flatMap(_._2) ++ Seq("xyz", "qqq", "123")
    def randDoc(): String = (0 until rnd.nextInt(20)).map { _ =>
      val w = vocab(rnd.nextInt(vocab.length))
      if (rnd.nextInt(4) == 0) w.toUpperCase else w
    }.mkString(" ")
    val inputs = Seq("", "xyz", "la la le", "que que") ++ (0 until 200).map(_ => randDoc())
    val df = inputs.toDF("s")
    val toks = transform(graft.text.TextAnalysis.tokens(col("s")), lower _)
    val scored = profiles.map { case (lang, words) =>
      val wl = array(words.map(lit): _*)
      struct(size(filter(toks, w => array_contains(wl, w))).as("score"), lit(lang).as("lang"))
    }
    val got = df.select(
      NativeExpressions.langIdPick(col("s"), profiles.map(_._1), profiles.map(_._2)),
      array_max(array(scored: _*)).getField("lang")).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getString(0) == r.getString(1), s"input=$s")
    }
  }

  test("gopher stop_hits: array_intersect == filter/array_contains formulation") {
    // the array_intersect rewrite (round 14) must count exactly what the
    // original counted: distinct stopwords present among lowercased tokens
    val rnd = new scala.util.Random(13)
    val stopwords = graft.text.TextAnalysis.defaultStopwords
    def randDoc(): String = (0 until rnd.nextInt(30)).map { _ =>
      val w = if (rnd.nextBoolean()) stopwords(rnd.nextInt(stopwords.length))
              else ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(4))
      if (rnd.nextInt(3) == 0) w.toUpperCase else w
    }.mkString(" ")
    val inputs = Seq("", "the THE tHe", "the a an and or") ++ (0 until 150).map(_ => randDoc())
    val df = inputs.toDF("s")
    val stop = array(stopwords.map(lit): _*)
    val toks = graft.text.TextAnalysis.tokens(col("s"))
    val lowToks = transform(toks, lower _)
    val got = df.select(
      size(array_intersect(stop, lowToks)).cast("long"),
      size(filter(stop, w => array_contains(lowToks, w))).cast("long")).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"input=$s")
    }
  }

  test("tokenStats kernel == size/aggregate/filter-array_contains triple") {
    // the fused quality kernel must reproduce, with multiplicity:
    // n_tokens = size(tokenize), sum_token_len = aggregate(+length),
    // stop_hits = size(filter(transform(toks, lower), array_contains))
    val stop = graft.text.TextAnalysis.defaultStopwords
    val rnd = new scala.util.Random(31)
    // include supplementary-plane codepoints (surrogate pairs): token
    // lengths count CODEPOINTS (🙂 is one), and a surrogate inside a short
    // token must not corrupt the stopword probe
    val pieces = stop ++ stop.map(_.toUpperCase) ++ stop.map(_.capitalize) ++
      Seq("x", "wordy", "überlang", "汉字词", "ThE", "THAT.", "a-and", "ño", "和the",
        "🙂", "a🙂", "🙂the", "the🙂", "𝔱𝔥𝔢", "🙂🙃🙂🙃")
    def doc(): String = (0 until rnd.nextInt(30)).map { _ =>
      val w = pieces(rnd.nextInt(pieces.length))
      w + (if (rnd.nextInt(4) == 0) "\t" else " ") * (1 + rnd.nextInt(2))
    }.mkString
    val inputs = Seq("", " ", "the THE tHe and", "that that that", "汉 字 the") ++
      (0 until 200).map(_ => doc())
    val df = inputs.toDF("s")
    val stopArr = array(stop.map(lit): _*)
    val toks = graft.text.TextAnalysis.tokens(col("s"))
    val ts = NativeExpressions.tokenStats(col("s"), stop)
    val got = df.select(
      ts.getField("n_tokens"), size(toks).cast("long"),
      ts.getField("sum_token_len"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)),
      ts.getField("stop_hits"),
      size(filter(transform(toks, lower _), w => array_contains(stopArr, w))).cast("long")
    ).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"n_tokens input=$s")
      assert(r.getLong(2) == r.getLong(3), s"sum_token_len input=$s")
      assert(r.getLong(4) == r.getLong(5), s"stop_hits input=$s")
    }
  }

  test("ngramLangPick kernel == regexp_replace length-diff scoring") {
    // the kernel replaced 20 per-gram regexp_replace scans; scores must be
    // Σ (length(lower(t)) - length(regexp_replace(lower(t), g, ''))) per
    // profile, argmax with ties to the FIRST profile listed
    val profiles = graft.text.TextAnalysis.ngramProfiles
    val rnd = new scala.util.Random(99)
    val pieces = profiles.flatMap(_._2) ++
      Seq(" ", "x", "Q", "THE", "Sch", "ión", "…", "🙂", "t🙂he", "🙂ing")
    def randDoc(): String =
      (0 until rnd.nextInt(40)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    val inputs = Seq("", " ", "theth", "derder", "quequeque", "ingingING",
      "lesent que eur", "sch und ich ein") ++ (0 until 200).map(_ => randDoc())
    val df = inputs.toDF("s")
    val t = lower(col("s"))
    val scored = profiles.zipWithIndex.map { case ((lang, grams), i) =>
      val score = grams.map(g =>
        length(t) - length(regexp_replace(t, g, ""))).reduce(_ + _)
      struct(score.cast("long").as("score"), lit(-i).as("ord"), lit(lang).as("lang"))
    }
    val got = df.select(
      NativeExpressions.ngramLangPick(col("s"), profiles.map(_._1), profiles.map(_._2)),
      array_max(array(scored: _*)).getField("lang")).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getString(0) == r.getString(1), s"input=$s")
    }
  }

  test("ngramLangPick non-overlap cursor matches regexp_replace on self-overlapping grams") {
    // "aa" in "aaaa" is TWO non-overlapping matches (regexp_replace
    // semantics), not three; a shared-suffix pair ("aba"/"ba") must each
    // count independently at the same end positions
    // weights chosen so overlap-counting FLIPS the winner: on "aaaaa" the
    // correct scores are p = 2 matches × 2 = 4, q = 1 × 3 = 3 (p wins);
    // counting overlapping occurrences would give p = 8, q = 9 (q wins)
    val langs = Seq("p", "q")
    val grams = Seq(Seq("aa"), Seq("aaa"))
    val inputs = Seq("", "aaaa", "aaaaa", "aaaaaa", "aaaaaaa", "aa aaa aaaa",
      "ababa", "baaa ab aba", "aabaabaa")
    val df = inputs.toDF("s")
    val t = lower(col("s"))
    val scored = langs.zip(grams).zipWithIndex.map { case ((lang, gs), i) =>
      val score = gs.map(g =>
        length(t) - length(regexp_replace(t, g, ""))).reduce(_ + _)
      struct(score.cast("long").as("score"), lit(-i).as("ord"), lit(lang).as("lang"))
    }
    val got = df.select(
      NativeExpressions.ngramLangPick(col("s"), langs, grams),
      array_max(array(scored: _*)).getField("lang")).collect()
    got.zip(inputs).foreach { case (r, s) =>
      assert(r.getString(0) == r.getString(1), s"input=$s")
    }
  }

  test("topTokenStats kernel == explode/groupBy/min_by pipeline, ties included") {
    // the kernel replaced an explode -> groupBy(doc, tok) -> per-doc
    // min_by(tok, struct(-cnt, tok)) -> join-back formulation; its
    // tie-break (max count, ties to the binary-SMALLEST token) must match
    // on documents built to contain equal-count ties
    val rnd = new scala.util.Random(7)
    val vocab = Seq("pear", "apple", "zzz", "Apple", "b", "bb", "42", "#", "ému")
    def tiedDoc(): String = {
      // pick 2-4 tokens and repeat each the SAME number of times, shuffled —
      // every token ties for top
      val k = 2 + rnd.nextInt(3)
      val reps = 1 + rnd.nextInt(4)
      rnd.shuffle(rnd.shuffle(vocab.toList).take(k).flatMap(w => List.fill(reps)(w)))
        .mkString(" ")
    }
    def randDoc(): String =
      (0 until rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val inputs = Seq("", " ", "a a b b", "b a a b", "zzz apple zzz apple") ++
      (0 until 120).map(_ => if (rnd.nextBoolean()) tiedDoc() else randDoc())
    val df = inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")

    val kernel = graft.text.TextAnalysis.topTokenStats(df).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(2), r.getLong(3)))
      .toMap
    // the OLD formulation, reconstructed verbatim
    val counts = df.select(col("doc_id"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val old = counts.groupBy("doc_id").agg(
        min_by(col("tok"), struct((-col("cnt")).as("nc"), col("tok"))).as("top_token"),
        max(col("cnt")).as("top_cnt"), sum(col("cnt")).as("n_tokens"))
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(2), r.getLong(3)))
      .toMap
    inputs.indices.foreach { i =>
      val k = kernel(i.toLong)
      old.get(i.toLong) match {
        case Some(o) => assert(k == o, s"doc=${inputs(i)}")
        case None => // empty doc: old pipeline emits no row; kernel emits zeros
          assert(k == ((None, 0L, 0L)), s"empty doc=${inputs(i)}")
      }
    }
  }

  test("gopherStats kernel == token/line array + regex-lambda formulation") {
    // the r15 withGopherRules internals, reconstructed verbatim, vs the
    // fused kernel — on inputs heavy in bullets, ellipses, dot runs,
    // blank/tab lines, mixed case stopwords and surrogate pairs
    val stop = graft.text.TextAnalysis.defaultStopwords
    val rnd = new scala.util.Random(16)
    val pool = Seq("the", "The", "AND", "of", "x", "-", "*", "•", "...", "....",
      ".....", "…", "#", "##", "a#b", "é", "😀", "word", "-lead",
      "tail...", "tail…", " ", "\n", "\n\n", " \n", "\t\n", "a.b.c", ".", "..",
      "\r\n", "\r", "...\r", "…\r", "\u0085", "\u2028")
    val inputs = Seq("", " ", "\n", "\t", "- bullet\nplain\n* star\n• dot",
      "end...\nend…\nmid...x", "## # ###", "...", "....x....", "the The THE",
      "  - spaced bullet  \n  tail...  ", "\t- tab bullet\n x \t",
      // CRLF corpora: Java's $ matches before ONE final line terminator,
      // so "end...\r" IS an ellipsis line (and "end... \r" is not)
      "end...\r\nnext", "end… \r\nnext", "end...\r\r\nx", "tail…\nx",
      "crlf only\r\n- b\r\nend...\r") ++
      (0 until 300).map(_ => (0 until rnd.nextInt(25)).map(_ => pool(rnd.nextInt(pool.length))).mkString(""))
    val df = inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
    val t = col("text")
    val toks = graft.text.TextAnalysis.tokens(t)
    val lines = filter(split(t, "\n"), l => trim(l) =!= "")
    val old = df.select(col("id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L), (acc, w) => acc + length(w)).as("sum_word_len"),
        size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
        size(array_intersect(array(stop.map(lit): _*), transform(toks, lower _)))
          .cast("long").as("stop_distinct"),
        (length(t) - length(replace(t, lit("#"), lit("")))).cast("long").as("hash_cnt"),
        ((length(t) - length(replace(t, lit("..."), lit("")))) / lit(3)).cast("long").as("ell3_cnt"),
        (length(t) - length(replace(t, lit("…"), lit("")))).cast("long").as("ellch_cnt"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("long").as("bullet_lines"),
        size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("long").as("ellipsis_lines"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val kernel = df.select(col("id"),
        NativeExpressions.gopherStats(t, stop).as("g"))
      .select(col("id"), col("g.*")).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    inputs.indices.foreach { i =>
      assert(kernel(i.toLong) == old(i.toLong),
        s"doc=[${inputs(i)}]\nkernel=${kernel(i.toLong)}\nold=${old(i.toLong)}")
    }
  }

  // the JVM regex engine itself as the reference: non-overlapping find()
  // with appendReplacement, exactly what regexp_extract_all(size) and
  // regexp_replace compute
  private def refRegexScan(s: String, pattern: String, repl: String): (Long, String) = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    var n = 0L
    val sb = new StringBuffer
    while (m.find()) { n += 1; m.appendReplacement(sb, repl) }
    m.appendTail(sb)
    (n, sb.toString)
  }

  // adversarial generator for the PII kernels: heavy in '@', '.', digits,
  // dashes and boundary-relevant chars so local/domain/octet edge shapes
  // (runs > 3, dots at run edges, word chars after a candidate match,
  // adjacent candidates) occur constantly
  private def piiSamples(seed: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val pool = "a b z A Z _ % + - . . . @ @ 0 1 2 9 12 123 1234 .. -. é é \t"
      .split(" ").toSeq :+ " "
    val handPicked = Seq(
      "", "@", "a@b.co", "a@b.c", "a@b.co.uk", "a@b.comx", "a@b.co-x",
      "x@y.com@z.com", "a@@b.com", "a@.com", "a@b..com", ".a.@.b.cc.",
      "é@b.com", "a@é.com", "user.name+tag@sub.domain-x.org extra",
      "1.2.3.4", "01.002.3.255", "1.2.3.4.5", "1234.5.6.7", "1.2345.6.7",
      "1.2.3.45678", "5.1.2.3.4", "a1.2.3.4", ".1.2.3.4", "1.2.3.4a",
      "1.2.3.4_", "-1.2.3.4-", "1..2.3.4", "1.2.3.4.5.6", "x 999.999.999.999 y",
      "1.2.3.4 5.6.7.8", "1.2.3.45.6.7.8.9", "a@1.2.3.4 and 1.2.3.4@b.com",
      "mail me at a@b.io or 10.0.0.1!", "@@@...---___", "1.2.3.", "1.2.3")
    handPicked ++ (0 until 400).map { _ =>
      (0 until r.nextInt(30)).map(_ => pool(r.nextInt(pool.length))).mkString
    }
  }

  test("piiEmailScan kernel == email regex (count and redaction spans)") {
    val inputs = piiSamples(61)
    val got = inputs.toDF("s")
      .select(NativeExpressions.piiEmailScan(col("s")).as("r"))
      .select(col("r.n"), col("r.redacted")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    inputs.zip(got).foreach { case (s, g) =>
      val ref = refRegexScan(s, graft.text.TextAnalysis.emailPattern, "<EMAIL>")
      assert(g == ref, s"input=[$s]")
    }
  }

  test("piiPhoneScan kernel == phone regex (count and redaction spans)") {
    val inputs = piiSamples(64) ++ Seq(
      "555-123-4567", "123-4567", "12-345-6789", "1234-567-8901",
      "123-456-789", "123-456-78901", "123-456-7890a", "123-456-7890_",
      "0123-456-7890", "123-45-6789", "555-123-4567 x 123-4567",
      "a123-4567", "123-4567b", "-123-4567-", "123--4567", "123-45678")
    val got = inputs.toDF("s")
      .select(NativeExpressions.piiPhoneScan(col("s")).as("r"))
      .select(col("r.n"), col("r.redacted")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    inputs.zip(got).foreach { case (s, g) =>
      val ref = refRegexScan(s, graft.text.TextAnalysis.phonePattern, "<PHONE>")
      assert(g == ref, s"input=[$s]")
    }
  }

  test("piiIpv4Scan kernel == ipv4 regex (count and redaction spans)") {
    val inputs = piiSamples(62)
    val got = inputs.toDF("s")
      .select(NativeExpressions.piiIpv4Scan(col("s")).as("r"))
      .select(col("r.n"), col("r.redacted")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    inputs.zip(got).foreach { case (s, g) =>
      val ref = refRegexScan(s, graft.text.TextAnalysis.ipv4Pattern, "<IP>")
      assert(g == ref, s"input=[$s]")
    }
  }

  test("withPiiScrub full pipeline matches the pre-kernel regex formulation") {
    // the r15 formulation, reconstructed verbatim (gated regexes for all
    // three patterns), vs the r16 kernel path — on the adversarial pool
    import graft.text.TextAnalysis.{emailPattern, phonePattern, ipv4Pattern}
    val inputs = piiSamples(63) ++ Seq(
      "call 555-123-4567 or 123-4567 at 10.0.0.1 a@b.com", "555-12345-678")
    val df = inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val t = col("text")
    def cnt(p: String) = size(regexp_extract_all(t, lit(p), lit(0))).cast("long")
    val hasAt = t.contains("@")
    val hasDigit = col("__pc").getItem(2) > 0
    val r1 = when(hasAt, regexp_replace(t, emailPattern, "<EMAIL>")).otherwise(t)
    val r2 = when(hasDigit, regexp_replace(r1, phonePattern, "<PHONE>")).otherwise(r1)
    val old = df.withColumn("__pc", NativeExpressions.scriptCounts(t))
      .withColumn("n_emails", when(hasAt, cnt(emailPattern)).otherwise(lit(0L)))
      .withColumn("n_phones", when(hasDigit, cnt(phonePattern)).otherwise(lit(0L)))
      .withColumn("n_ipv4", when(hasDigit, cnt(ipv4Pattern)).otherwise(lit(0L)))
      .withColumn("text_redacted",
        when(hasDigit, regexp_replace(r2, ipv4Pattern, "<IP>")).otherwise(r2))
      .drop("__pc")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    val kernel = graft.text.TextAnalysis.withPiiScrub(df).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    inputs.indices.foreach { i =>
      assert(kernel(i.toLong) == old(i.toLong), s"doc=[${inputs(i)}]")
    }
  }

  test("every native kernel expression: codegen and interpreted rows are identical, NULLs included") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (p, b) = (PortableHash.P, PortableHash.B)
    val r = new Random(7)
    def vec(): Seq[Float] = Seq.fill(4)(r.nextInt(7) - 3 + r.nextFloat())
    def set(): Seq[Long] = Seq.fill(r.nextInt(12))(r.nextInt(20).toLong).distinct.sorted
    val texts = Seq("The cat... and the dog\u2026 #1", "- item\n* two...\r\nle chat et le chien",
      "Привет мир 你好 مرحبا Der Eichhörnchen", "mail a@b.io or 10.0.0.1, call 555-123-4567") ++
      samples.take(40) ++ piiSamples(3).take(20)
    val rows = Row(0L, null, null, null, null, null, null) +: texts.zipWithIndex.map {
      case (t, i) => Row(i + 1L, t, refTokens(t).map(refHash(_, p)), vec(), vec(), set(), set())
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("t", StringType),
      StructField("th", ArrayType(LongType)), StructField("v", ArrayType(FloatType)),
      StructField("w", ArrayType(FloatType)), StructField("sa", ArrayType(LongType)),
      StructField("sb", ArrayType(LongType))))
    // an RDD source, not a local relation, so the projection is not folded
    // at planning time before either path runs
    val fixture = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val (t, th, v, w) = (col("t"), col("th"), col("v"), col("w"))
    val n = NativeExpressions
    val kernels = Seq(n.polyHash(t, p), n.tokenPolyHashes(t, p), n.tokenize(t),
      n.shingleHashSet(th, 2, b, p), n.shingleHashesAll(th, 3, b, p),
      n.winnowHashes(th, 2, 3, b, p), n.minHashSig(th, 2, Seq(3L, 5L), Seq(11L, 13L), b, p),
      n.simHash32(th), n.cosineF(v, w), n.sortedIntersectCount(col("sa"), col("sb")),
      n.sortedIntersectCount(col("sa").cast("array<int>"), col("sb").cast("array<int>")),
      n.compressionRatio(t), n.scriptCounts(t), n.normalizeText(t), n.subwordCount(t),
      n.runCountInSet(t, ".!?"), n.topTokenStats(t), n.gopherStats(t, Seq("the", "and", "le")),
      n.piiEmailScan(t), n.piiPhoneScan(t), n.piiIpv4Scan(t), n.tokenStats(t, Seq("the", "et")),
      n.langIdPick(t, Seq("en", "fr"), Seq(Seq("the", "and"), Seq("le", "et"))),
      n.ngramLangPick(t, Seq("en", "de"), Seq(Seq("th", "he"), Seq("ch", "ei"))),
      n.lshSignatureF(v, 16), n.deletionVariantHashes(substring(t, 1, 10), 2))
    def run(): Seq[Row] = fixture.select(col("id") +: kernels: _*).collect().sortBy(_.getLong(0)).toSeq
    val compiled = run()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val interpreted = try {
      confs.foreach { case (k, x) => spark.conf.set(k, x) }
      run()
    } finally saved.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
    assert(compiled.length == rows.length)
    compiled.zip(interpreted).foreach { case (c, i) => assert(c == i, s"id ${c.getLong(0)}") }
    assert((1 to kernels.length).forall(compiled.head.isNullAt), "NULL input gave a value")
    // inputs are matched, never cast: one wrong type per input family
    Seq(n.polyHash(th, p) -> "STRING", n.shingleHashSet(th.cast("array<int>"), 2, b, p) -> "ARRAY<BIGINT>",
      n.cosineF(v.cast("array<double>"), w) -> "ARRAY<FLOAT>").foreach { case (bad, want) =>
      val e = intercept[AnalysisException](fixture.select(bad))
      assert(e.getMessage.contains(s"expects $want"), e.getMessage)
    }
  }
}
