package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount ignores repeated separators") {
    val df = Seq("a  b   c", "", "single").toDF("text")
    val out = df.select(TextAnalysis.tokenCount($"text")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(3L, 0L, 1L))
  }

  test("quality features on a known string") {
    val df = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val r = TextAnalysis.withQualityFeatures(df).collect().head
    assert(r.getAs[Long]("n_tokens") == 3)
    assert(r.getAs[Double]("mean_token_len") == 3.0)   // (11 - 2) / 3
    assert(r.getAs[Double]("stopword_ratio") == 1.0 / 3.0) // "the"
    assert(r.getAs[Double]("space_ratio") == 2.0 / 11.0)
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1)) // same tokens, different order → different hash
    // numeric rolling variant has the same properties
    val rfs = df.select(TextAnalysis.rollingFingerprint($"text")).collect().map(_.getLong(0))
    assert(rfs(0) == rfs(2))
    assert(rfs(0) != rfs(1))
  }

  test("subwordCount splits off punctuation, digits, and camelCase") {
    import org.apache.spark.sql.functions.col
    val df = Seq("hello, world", "camelCase x2").toDF("text")
    val got = df.select(TextAnalysis.subwordCount(col("text"))).collect().map(_.getLong(0))
    assert(got(0) == 3) // hello , world
    assert(got(1) == 4) // camel Case x 2
  }

  test("operators tolerate empty and whitespace-only documents") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, ""), (2L, "   "), (3L, "one two three")).toDF("doc_id", "text")
    assert(df.select(TextAnalysis.tokenCount(col("text"))).collect().map(_.getLong(0)).toSeq
      == Seq(0L, 0L, 3L))
    assert(TextAnalysis.withQualityFeatures(df).count() == 3)
    // minhash/simhash drop token-less docs rather than failing
    assert(graft.dedup.Dedup.minHashLsh(df, shingleN = 2).count() == 0)
    assert(graft.dedup.Dedup.simHash(df).count() == 1)
  }

  test("minHashSignatures (groupBy form) equals the per-row native signature kernel") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "pack my box with jugs"))
      .toDF("doc_id", "text")
    val k = 8
    // groupBy formulation over the exploded (id, shingle) relation
    val shingles = docs
      .select(col("doc_id"), graft.functions.PortableHash.tokenHashes(col("text")).as("__th"))
      .select(col("doc_id"), explode(
        graft.functions.expressions.NativeExpressions.shingleHashSet(
          col("__th"), 2, graft.functions.PortableHash.B,
          graft.functions.PortableHash.P)).as("h"))
      .select(col("doc_id"), col("h").cast("string").as("shingle"))
    val viaGroup = Dedup.minHashSignatures(shingles, k).collect()
      .map(r => r.getLong(0) -> (0 until k).map(i => r.getAs[Long](s"mh_$i"))).toMap
    // both formulations produce k mins per doc over the same permutations;
    // the groupBy form hashes the shingle STRING (API contract: any
    // (id, shingle) relation), so only shape properties are comparable
    assert(viaGroup.size == 2 && viaGroup.values.forall(_.length == k))
    assert(viaGroup.values.forall(_.forall(m => m >= 0 && m < graft.functions.PortableHash.P)))
  }

  test("minHashDedup verifies LSH candidates with exact Jaccard on the pair subset") {
    import org.apache.spark.sql.functions.col
    val docs = sf("documents").limit(200)
    val viaPipeline = graft.dedup.Dedup.minHashDedup(docs, shingleN = 2, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.dedup.Dedup.ngramJaccard(docs, n = 2, threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pipeline pairs are a subset of ground truth (LSH can miss, never invent)
    assert(viaPipeline.subsetOf(exact))
  }

  test("saltedJoin matches plain join for inner/left types") {
    import org.apache.spark.sql.functions.col
    val li = sf("lineitem").select("l_orderkey", "l_quantity")
    val ord = sf("orders").select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = graft.operators.Joins.rsJoin(li, ord, Seq("l_orderkey")).count()
    val salted = graft.operators.Joins.saltedJoin(li, ord, Seq("l_orderkey"), salts = 4).count()
    assert(plain == salted)
    val leftPlain = graft.operators.Joins.rsJoin(li, ord.limit(10), Seq("l_orderkey"), "left").count()
    val leftSalted = graft.operators.Joins.saltedJoin(li, ord.limit(10), Seq("l_orderkey"), 4, "left").count()
    assert(leftPlain == leftSalted)
  }

  test("langid votes by stopword profile") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht da")).toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(df).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "en" && out(2L) == "de")
  }

  test("langid NULL contract: null text -> null prediction, empty -> tie-break winner") {
    // round-14 contract change, pinned: the old array_max-over-structs
    // form returned the binary-largest lang for NULL docs (struct fields
    // null, tie broken on the lang field); the kernel null-propagates.
    // All-zero-score docs (empty/no profile hits) still get the tie-break
    // winner, not null.
    val df = Seq((1L, null: String), (2L, ""), (3L, "qqq www"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.withLangId(df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out(1L).isEmpty, "null text must predict null")
    assert(out(2L).contains("zh") && out(3L).contains("zh"),
      "zero-score docs keep the binary-largest tie-break winner")
  }

  test("helper-column collision fails loudly instead of silently dropping data") {
    val df = Seq((1L, "some text", 42)).toDF("doc_id", "text", "__q_ts")
    val e = intercept[IllegalArgumentException](TextAnalysis.withQualityFeatures(df))
    assert(e.getMessage.contains("__q_ts"))
    val df2 = Seq((1L, "some text", 7)).toDF("doc_id", "text", "__gopher")
    intercept[IllegalArgumentException](TextAnalysis.withGopherRules(df2))
    val df3 = Seq((1L, "some text", 7)).toDF("doc_id", "text", "__pii_email")
    intercept[IllegalArgumentException](TextAnalysis.withPiiScrub(df3))
  }

  test("exact dedup keeps min id per content (hash groupBy)") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val survivors = Dedup.exactSurvivors(df).collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 3L))
    val copies = Dedup.exact(df).filter($"doc_id" === 1).collect().head.getAs[Long]("copies")
    assert(copies == 2)
  }

  test("word shingles are distinct n-grams (posexplode path)") {
    val df = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(df, 2).collect().map(_.getString(1)).sorted.toSeq
    assert(sh == Seq("a b", "b a")) // "a b" appears twice, kept once
  }

  test("ngram Jaccard exact values") {
    val df = Seq((1L, "w x y z"), (2L, "w x y q"), (3L, "p q r s")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(df, n = 2, threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // doc1 bigrams {w x, x y, y z}, doc2 {w x, x y, y q}: common 2, union 4
    assert(out == Seq((1L, 2L, 0.5)))
  }

  test("hot-shingle cap drops boilerplate-only pairs but keeps genuine overlap") {
    // "LICENSE header" bigram appears in every doc (boilerplate); only
    // docs 1 and 2 genuinely overlap beyond it
    val docs = Seq(
      (1L, "LICENSE header alpha beta gamma"),
      (2L, "LICENSE header alpha beta delta"),
      (3L, "LICENSE header one two"),
      (4L, "LICENSE header three four"),
      (5L, "LICENSE header five six")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(docs, n = 2, threshold = 0.01)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 10, s"all pairs share the boilerplate bigram: $uncapped")
    // cap at 4: the LICENSE-header bigram (5 docs) drops out of pair
    // generation; (1,2) still pairs on its real shared bigrams
    val capped = Dedup.ngramJaccard(docs, n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(4))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), capped.toString)
    // capped jaccard is a lower bound: union keeps the full sets
    val j = Dedup.ngramJaccard(docs, n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(4)).head().getDouble(2)
    val jFull = Dedup.ngramJaccard(docs.filter(col("doc_id") <= 2), n = 2,
      threshold = 0.01).head().getDouble(2)
    assert(j <= jFull, s"capped $j must not exceed uncapped $jFull")
    // same guardrail on the cross-corpus and containment variants
    assert(Dedup.crossCorpusJaccard(docs.filter(col("doc_id") === 1),
      docs.filter(col("doc_id") =!= 1), n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(2)).count() >= 1)
    assert(Dedup.overlapCandidates(docs, n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(4)).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("CapMetrics surfaces hot-shingle drops programmatically; zero when uncapped") {
    val docs = Seq(
      (1L, "LICENSE header alpha beta gamma"),
      (2L, "LICENSE header alpha beta delta"),
      (3L, "LICENSE header one two"),
      (4L, "LICENSE header three four"),
      (5L, "LICENSE header five six")).toDF("doc_id", "text")
    // capped run: the "LICENSE header" bigram (df=5) is excluded and the
    // accumulators record it — callers can DETECT lower-bound jaccards
    // instead of scraping executor logs
    val m = new Dedup.CapMetrics(spark)
    Dedup.ngramJaccard(docs, n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(4), capMetrics = Some(m)).collect()
    assert(m.capped, "cap fired but CapMetrics saw nothing")
    assert(m.droppedShingles.value == 1L, m.droppedShingles.value.toString)
    assert(m.droppedMemberships.value == 5L, m.droppedMemberships.value.toString)
    // a run whose cap never fires reads clean
    val clean = new Dedup.CapMetrics(spark)
    Dedup.ngramJaccard(docs, n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(100), capMetrics = Some(clean)).collect()
    assert(!clean.capped)
    // exact (not 2x) even when the hot subtree cannot rely on broadcast-
    // exchange reuse to dedupe its two self-join appearances
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val m2 = new Dedup.CapMetrics(spark)
      Dedup.ngramJaccard(docs, n = 2, threshold = 0.01,
        maxDocsPerShingle = Some(4), capMetrics = Some(m2)).collect()
      assert(m2.droppedShingles.value == 1L,
        s"drop count not exactly-once under shuffle-join plans: ${m2.droppedShingles.value}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    // cross-corpus variant reports per-side drops through the same object
    val xm = new Dedup.CapMetrics(spark)
    Dedup.crossCorpusJaccard(docs.filter(col("doc_id") === 1),
      docs.filter(col("doc_id") =!= 1), n = 2, threshold = 0.01,
      maxDocsPerShingle = Some(2), capMetrics = Some(xm)).collect()
    assert(xm.capped, "cross-corpus cap fired but CapMetrics saw nothing")
    // winnowing's hot-fingerprint cap reports through the same object: an
    // 8-token shared prefix yields identical window minima in every doc
    // (window minima of identical hash sequences are identical), so common
    // df=5 fingerprints are GUARANTEED regardless of hash ordering
    val wdocs = Seq.tabulate(5)(i => (i + 1L,
      s"LICENSE header copyright notice all rights reserved herein doc$i body$i"))
      .toDF("doc_id", "text")
    val wm = new Dedup.CapMetrics(spark)
    Dedup.winnowOverlapJoin(wdocs, n = 2, w = 2, minShared = 1,
      maxDocsPerFp = Some(4), capMetrics = Some(wm)).collect()
    assert(wm.capped, "winnow fp cap fired but CapMetrics saw nothing")
    assert(wm.droppedShingles.value >= 1L, wm.droppedShingles.value.toString)
    val wClean = new Dedup.CapMetrics(spark)
    Dedup.winnowOverlapJoin(wdocs, n = 2, w = 2, minShared = 1,
      maxDocsPerFp = Some(100), capMetrics = Some(wClean)).collect()
    assert(!wClean.capped)
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("kappa", "koppa") // 1-token edit
    val docs = Seq((1L, base), (2L, near), (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(docs, shingleN = 2, k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("batch vs pre-built minhash index matches whole-corpus LSH on cross pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq((1L, base),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "completely different content with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, base.replace("kappa", "koppa")),
      (101L, "fresh novel text nothing like the corpus contents"))
      .toDF("doc_id", "text")
    // index built once (in practice: written to storage, read per batch)
    val index = Dedup.minHashIndex(corpus, shingleN = 2, k = 16, bands = 8)
    val got = Dedup.minHashLshAgainstIndex(batch, index, shingleN = 2, k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 1L)), got.toString)
    assert(!got.exists(_._1 == 101L), s"novel doc must not pair: $got")
    // identical to running whole-corpus LSH over the union, cross pairs only
    val whole = Dedup.minHashLsh(corpus.unionByName(batch), shingleN = 2, k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossFromWhole = whole.collect {
      case (a, b) if a < 100 && b >= 100 => (b, a)
      case (a, b) if a >= 100 && b < 100 => (a, b)
    }
    assert(got == crossFromWhole, s"index path diverged: $got vs $crossFromWhole")
  }

  test("verified batch-vs-index dedup filters band collisions by exact jaccard") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq((1L, base),
      (3L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val index = Dedup.minHashIndex(corpus, shingleN = 2, k = 16, bands = 8)
    val batch = Seq((100L, base.replace("kappa", "koppa")),
      (101L, "fresh novel text nothing like the corpus contents"))
      .toDF("doc_id", "text")
    // low threshold keeps the true near-dup with its exact score
    val verified = Dedup.minHashDedupAgainstIndex(batch, index, corpus,
      shingleN = 2, k = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(verified.map(v => (v._1, v._2)).toSet == Set((100L, 1L)), verified.mkString(","))
    assert(verified.head._3 > 0.5 && verified.head._3 < 1.0)
    // a threshold above the true jaccard kills the pair
    assert(Dedup.minHashDedupAgainstIndex(batch, index, corpus,
      shingleN = 2, k = 16, bands = 8, threshold = 0.95).count() == 0)
  }

  test("simhash of identical text matches; hamming ≤ 3 candidates found") {
    val docs = Seq((1L, "spark cubert engine test"), (2L, "spark cubert engine test"),
      (3L, "completely different words here now")).toDF("doc_id", "text")
    val sh = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val cands = Dedup.simHashCandidates(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("dupClusters labels transitive components with the min id (chain needs >1 round)") {
    // two components: {1,2,3,4} as a chain (diameter 3 — exercises the
    // propagation loop past one round) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: string ids cluster under lexicographic min (no silent long-cast no-op)") {
    // the old unconditional cast("long") nulled string ids, so every doc
    // self-labeled and the clustering silently no-opped
    val pairs = Seq(("docB", "docA"), ("docB", "docC"), ("docZ", "docY"))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docY" -> "docY", "docZ" -> "docY"))
    // unsupported id types fail loudly instead of null-casting
    val bin = Seq((Array[Byte](1), Array[Byte](2))).toDF("id_a", "id_b")
    val err = intercept[IllegalArgumentException](Dedup.dupClusters(bin))
    assert(err.getMessage.contains("integral or both string"), err.getMessage)
    // DIGIT strings stay strings and elect the LEXICOGRAPHIC min — the
    // documented contract ("10" < "9"); pad or pass longs for numeric order
    val dig = Dedup.dupClusters(Seq(("9", "10")).toDF("id_a", "id_b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dig == Map("9" -> "10", "10" -> "10"), dig.toString)
  }

  test("ngram language id scores signature trigrams and breaks ties to the first profile") {
    val df = Seq((1L, "the thing standing and breathing"),
      (2L, "der schein und das schiff ich"),
      (3L, "les entendre que bonheur"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.withLangIdNgram(df).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "fr")
    assert(got(4L) == "en") // all-zero scores tie-break to the first profile
  }

  test("dirty data: null and empty text flow through text/dedup operators without crashing") {
    val docs = Seq((1L, "real document with several tokens here"),
      (2L, null), (3L, ""), (4L, "   \t \n ")).toDF("doc_id", "text")
    // text analysis: null text → null features, empty → zero counts
    val q = TextAnalysis.withQualityFeatures(docs).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("n_tokens"))).toMap
    assert(q(2L).isEmpty)          // null in, null out
    assert(q(3L).contains(0L) && q(4L).contains(0L))
    assert(TextAnalysis.withLangId(docs).count() == 4)
    assert(docs.select(TextAnalysis.fingerprint(col("text"))).count() == 4)
    // dedup: null/empty/whitespace docs have no shingles → excluded, no crash
    assert(Dedup.minHashLsh(docs, shingleN = 2, k = 8, bands = 4).count() == 0)
    assert(Dedup.simHashCandidates(docs).count() == 0)
    assert(Dedup.ngramJaccard(docs, n = 2, threshold = 0.0).count() == 0)
    // exact dedup groups by content hash; null hashes to null group
    assert(Dedup.exact(docs).count() == 4)
    // prefix paths: same exclusion contract, both orders, and an entirely
    // empty corpus (empty dfreq + empty checkpoint + empty window) is fine
    val none = docs.limit(0)
    for (ord <- Seq("df", "hash")) {
      assert(Dedup.ngramJaccardPrefix(docs, n = 2, threshold = 0.5,
        order = ord).count() == 0)
      assert(Dedup.ngramJaccardPrefix(none, n = 2, threshold = 0.5,
        order = ord).count() == 0)
      assert(Dedup.crossCorpusJaccardPrefix(docs, none, n = 2,
        threshold = 0.5, order = ord).count() == 0)
      assert(Dedup.crossCorpusJaccardPrefix(none, docs, n = 2,
        threshold = 0.5, order = ord).count() == 0)
    }
  }

  test("dupClusters == brute-force union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val nNodes = 3 + rnd.nextInt(20)
      val nEdges = 1 + rnd.nextInt(25)
      val edges = (0 until nEdges).map { _ =>
        val a = rnd.nextInt(nNodes).toLong; val b = rnd.nextInt(nNodes).toLong
        if (a < b) (a, b) else (b, a + 1) // avoid self-loops
      }.distinct
      // reference: union-find with min-id representative
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val ra = find(a); val rb = find(b)
        if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
      }
      edges.foreach { case (a, b) => union(a, b) }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> find(n)).toMap
      val got = Dedup.dupClusters(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: edges=$edges")
    }
  }

  test("star rounds collapse a path graph exponentially faster than its diameter") {
    // a 32-node path has diameter 31: min-label propagation needs 31
    // rounds, large/small-star contracts it in O(log n)
    val path = (0L until 31L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.dupClustersWithRounds(path)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 31L).map(_ -> 0L).toMap, got.toString)
    assert(rounds <= 8, s"expected O(log n) star rounds on a path, got $rounds")
    labels.unpersist()
  }

  test("dupClusters holds only its labeling; a NULL id throws and keeps nothing") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for ((pairs, nodes) <- Seq((Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b"), 5),
        (Seq(("b", "a"), ("c", "b")).toDF("id_a", "id_b"), 3))) {
      val labels = Dedup.dupClusters(pairs)
      assert(labels.count() == nodes)
      labels.unpersist(blocking = true)
      assert(sc.getPersistentRDDs.keySet.forall(before), sc.getPersistentRDDs.toString)
    }
    val longs = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(3L), None))
      .toDF("a", "b")
    val strings = Seq[(String, String)](("x", "y"), (null, "y")).toDF("a", "b")
    for ((df, end) <- Seq((longs, "b"), (strings, "a"))) {
      val e = intercept[IllegalArgumentException](Dedup.dupClusters(df, "a", "b"))
      assert(e.getMessage.contains(s"dupClusters: an edge has a NULL $end"), e.getMessage)
    }
    assert(sc.getPersistentRDDs.keySet.forall(before), "a rejected input left RDDs persisted")
  }

  test("clusterSurvivors keeps one doc per cluster plus unclustered docs") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (10L, "b"),
      (11L, "b"), (99L, "lonely")).toDF("doc_id", "text")
    val clusters = Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b"))
    val kept = Dedup.clusterSurvivors(docs, clusters).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("survivorsBy keeps the best-scoring doc per cluster, min id on ties") {
    val docs = Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), (4L, "a", 5L),
      (10L, "b", 7L), (11L, "b", 3L), (99L, "lonely", 1L))
      .toDF("doc_id", "text", "score")
    val clusters = Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b"))
    val kept = Dedup.survivorsBy(docs, clusters, col("score"))
      .collect().map(_.getLong(0)).toSet
    // cluster {1,2,3,4}: 2 and 3 tie at 30 → 2 wins; cluster {10,11}: 10
    // wins on score; 99 unclustered → survives
    assert(kept == Set(2L, 10L, 99L))
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the eval set") {
    // eval doc holds "one two three"; train doc 1 contains that trigram,
    // doc 2 shares only a bigram (below n=3), doc 3 shares nothing,
    // doc 4 is too short to have any trigram
    val evalSet = Seq((100L, "one two three")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x one two three y"),
      (2L, "one two zzz"),
      (3L, "totally different text here"),
      (4L, "hi")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, evalSet, n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      1L -> (1L, true), 2L -> (0L, false), 3L -> (0L, false), 4L -> (0L, false)))
  }

  test("chunk splits into overlapping token windows covering every token") {
    val df = Seq((1L, (1 to 25).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"), (3L, "solo"), (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, chunkTokens = 10, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 1, 9, 17 (stride 8, last start <= 25-2=23)
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(d1(0)._3.startsWith("t1 ") && d1(1)._3.startsWith("t9 ") &&
      d1(2)._3 == (17 to 25).map(i => s"t$i").mkString(" "))
    assert(d1.map(_._4).toSeq == Seq(10L, 10L, 9L))
    // short docs yield exactly one chunk; empty docs none
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b c", 3L)))
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0L, "solo", 1L)))
    assert(!got.exists(_._1 == 4L))
  }

  test("crossCorpusJaccard pairs only across corpora") {
    val left = Seq((1L, "the quick brown fox jumps"),
      (3L, "nothing in common here")).toDF("doc_id", "text")
    val right = Seq((2L, "the quick brown fox leaps"),
      (4L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val got = Dedup.crossCorpusJaccard(left, right, n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc1 vs doc4 identical (j=1); doc1 vs doc2 share 3 of 5 bigrams (j=3/5)
    assert(got == Set((1L, 2L), (1L, 4L)))
  }

  test("pairCounts counts adjacent token pairs corpus-wide") {
    val df = Seq("a b c a b", "a b", "solo").toDF("text")
    val got = TextAnalysis.pairCounts(df, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 3L, ("b", "c") -> 1L, ("c", "a") -> 1L))
    // minCount prunes the tail
    val pruned = TextAnalysis.pairCounts(df, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == Set(("a", "b")))
  }

  test("duplicateSpans merges overlapping hot-shingle windows into maximal spans") {
    // "p q r" appears in docs 1,2,3 (trigram hot with minCount=3);
    // doc 1 holds it twice, separated, so it gets two spans
    val docs = Seq(
      (1L, "p q r a b c d e p q r"),
      (2L, "x p q r y"),
      (3L, "z z p q r"),
      (4L, "nothing shared at all here")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, n = 3, minCount = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 1L, 3L, 3L), (1L, 9L, 11L, 3L),
      (2L, 2L, 4L, 3L), (3L, 3L, 5L, 3L)))
  }

  test("softDedupWeights: 1/|cluster| for members, 1 for singletons") {
    val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val w = Dedup.softDedupWeights(docs, Dedup.dupClusters(pairs))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(w(1L) == ((3L, 1.0 / 3.0)) && w(2L) == ((3L, 1.0 / 3.0)) &&
      w(3L) == ((3L, 1.0 / 3.0)))
    assert(w(4L) == ((1L, 1.0)) && w(5L) == ((1L, 1.0)))
    // total weighted mass = unique-content mass: 1 cluster + 2 singletons
    assert(math.abs(w.values.map(_._2).sum - 3.0) < 1e-12)
  }

  test("cutSpans removes exactly the flagged token ranges, passes others through") {
    val docs = Seq(
      (1L, "p q r a b c d e p q r"),
      (2L, "x p q r y"),
      (3L, "z z p q r"),
      (4L, "nothing   shared\tat all here")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, n = 3, minCount = 3L)
    val got = Dedup.cutSpans(docs, spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1 loses both copies of "p q r"; middle kept
    assert(got(1L) == (("a b c d e", 6L)))
    assert(got(2L) == (("x y", 3L)))
    assert(got(3L) == (("z z", 3L)))
    // no spans: text canonicalizes (single-space join), nothing removed
    assert(got(4L) == (("nothing shared at all here", 0L)))
    // a doc that is ENTIRELY a duplicated span empties out
    val all = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val cut = Dedup.cutSpans(all, Dedup.duplicateSpans(all, n = 3, minCount = 2L))
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    assert(cut == Set(("", 3L)))
  }

  test("duplicateSpans merges adjacent and overlapping windows") {
    // both docs share the same 4 consecutive tokens -> overlapping trigram
    // windows at positions 1 and 2 merge into one span [1,4]
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, n = 3, minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 4L), (2L, 1L, 4L)))
  }

  test("overlapCandidates catches short-inside-long dups that Jaccard misses") {
    val host = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, host),                     // long host document
      (2L, "w10 w11 w12 w13 w14"),    // verbatim excerpt of the host
      (3L, "u1 u2 u3 u4 u5")          // unrelated
    ).toDF("doc_id", "text")
    val over = Dedup.overlapCandidates(docs, n = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(over.toSeq == Seq((1L, 2L, 1.0))) // excerpt fully contained
    // symmetric Jaccard on the same pair is far below any dedup threshold
    val jac = Dedup.ngramJaccard(docs, n = 2, threshold = 0.0)
      .filter($"id_a" === 1 && $"id_b" === 2).collect().head.getDouble(2)
    assert(jac < 0.1)
  }

  test("noveltyFilter keeps only batch docs absent from the corpus, exactly") {
    val corpus = Seq((10L, "seen before"), (11L, "also   seen")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before"),     // exact dup of corpus 10
      (2L, "also seen"),       // whitespace variant — same token fingerprint
      (3L, "genuinely new")    // novel
    ).toDF("doc_id", "text")
    val kept = Dedup.noveltyFilter(batch, corpus, expectedBatchDocs = 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("topTerms ranks rare terms above common ones, k per doc") {
    val docs = Seq(
      (1L, "shared shared rare1"),
      (2L, "shared rare2 rare2"),
      (3L, "shared filler")).toDF("doc_id", "text")
    val r = TextAnalysis.topTerms(docs, k = 2)
    val top1 = r.filter($"doc_id" === 1 && $"term_rank" === 1).collect().head
    // rare1: tf=1, df=1 → score 1.0 beats shared: tf=2, df=3 → 0.667
    assert(top1.getAs[String]("term") == "rare1")
    assert(top1.getAs[Double]("score") == 1.0)
    val top2 = r.filter($"doc_id" === 2 && $"term_rank" === 1).collect().head
    assert(top2.getAs[String]("term") == "rare2") // tf=2, df=1 → 2.0
    assert(top2.getAs[Double]("score") == 2.0)
    assert(r.groupBy("doc_id").count().collect().forall(_.getLong(1) <= 2))
  }

  // ---- paragraph dedup ----------------------------------------------------

  test("paragraphDedup keeps the earliest copy of each paragraph") {
    val df = Seq(
      (1L, "unique one\nshared footer"),
      (2L, "unique two\nshared footer\n\n  \nunique too"),
      (3L, "shared footer") // every paragraph owned elsewhere → doc vanishes
    ).toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(df).orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r(0).getAs[String]("text_dedup") == "unique one\nshared footer")
    assert(r(0).getAs[Long]("n_paras_kept") == 2L)
    // doc 2 loses the footer (doc 1 owns it) and its blank paragraphs
    assert(r(1).getAs[String]("text_dedup") == "unique two\nunique too")
    assert(r(1).getAs[Long]("n_paras_kept") == 2L)
  }

  test("paragraphDedup first occurrence is by (doc, position) not hash order") {
    // the same paragraph appears twice inside ONE doc: position breaks the tie
    val df = Seq(
      (7L, "dup\nmiddle\ndup")
    ).toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(df).collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("text_dedup") == "dup\nmiddle")
  }

  // ---- markup stripping / script profile ----------------------------------

  test("stripMarkup drops tags, script/style bodies, comments, and decodes entities") {
    import spark.implicits._
    val html = Seq(
      (1L, "<html><body><p>Hello <b>world</b></p><script>ignore() &amp;&amp; me;</script></body></html>"),
      (2L, "<style type='text/css'>p { x: 1 }</style>A &amp; B &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end"),
      (3L, "no markup at   all"),
      (4L, "<!-- secret -->visible <P CLASS='x'>CAPS TAG</P>")
    ).toDF("doc_id", "text")
    val out = html.select(col("doc_id"), TextAnalysis.stripMarkup(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Hello world")
    assert(out(2L) == "A & B <ok> \"q's\" end")
    assert(out(3L) == "no markup at all")
    assert(out(4L) == "visible CAPS TAG")
  }

  test("withScriptProfile counts ranges and picks the dominant script") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello world 123"),
      (2L, "漢字漢字漢字 ab"),
      (3L, "текст текст x"),
      (4L, ""),
      (5L, "!!! ???")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withScriptProfile(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("dominant_script"), r.getAs[Double]("latin_ratio"))).toMap
    assert(out(1L)._1 == "latin")
    assert(out(2L)._1 == "cjk")
    assert(out(3L)._1 == "cyrillic")
    assert(out(4L)._1 == "other" && out(4L)._2 == 0.0)
    assert(out(5L)._1 == "other")
    val r1 = out(1L)._2
    assert(math.abs(r1 - 10.0 / 15.0) < 1e-12, r1.toString)
  }

  test("compressionRatio ranks repetitive text below natural text") {
    import spark.implicits._
    val natural = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronomers debate quasar luminosity functions near Geneva"
    val df = Seq(
      (1L, "spam " * 200),              // pure repetition → tiny ratio
      (2L, natural * 3),                // natural prose
      (3L, ""),                         // empty → 1.0 by contract
      (4L, (1 to 120).map(i => s"item $i").mkString(" "))  // templated
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withCompressionRatio(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("compression_ratio"), r.getAs[Boolean]("keep_compression"))).toMap
    assert(out(1L)._1 < 0.10 && !out(1L)._2, out(1L).toString)
    assert(out(2L)._1 > out(1L)._1, s"${out(2L)} vs ${out(1L)}")
    assert(out(3L)._1 == 1.0 && out(3L)._2)
    assert(out(4L)._1 > out(1L)._1 && out(4L)._1 < 1.0, out(4L).toString)
    // determinism: same input, same ratio on re-evaluation
    val again = TextAnalysis.withCompressionRatio(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("compression_ratio")).toMap
    assert(again(2L) == out(2L)._1)
  }

  // ---- SemDeDup -----------------------------------------------------------

  test("semDedup drops larger-id near-dups only within a cell") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def v(xs: Float*) = xs.toArray
    val rows = Seq(
      Row(10L, v(2f, 0.1f)),     // cell 0
      Row(11L, v(4f, 0.2f)),     // cell 0, same direction as 10 → dropped
      Row(20L, v(0.1f, 3f)),     // cell 1, survives (nothing close in-cell)
      Row(21L, v(-1f, 5f)),      // cell 1, far from 20 → survives
      // near-identical pair that STRADDLES the cell boundary: cosine
      // ≈ 0.99995 but they land in different cells, so both survive —
      // the documented recall trade of cluster-bounded pairing
      Row(30L, v(1f, 1.01f)),    // cell 1
      Row(31L, v(1.01f, 1f))     // cell 0
    )
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val cents = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, v(1f, 0f)), Row(1L, v(0f, 1f)))), schema)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val out = Dedup.semDedup(emb, cents, threshold = 0.99).collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSet == Set(10L, 20L, 21L, 30L, 31L))
    val cellOf = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    assert(cellOf(10L) == 0L && cellOf(20L) == 1L)
    assert(cellOf(30L) == 1L && cellOf(31L) == 0L) // the straddling pair split
  }

  test("semDedupAgainstIndex: the corpus copy wins regardless of id; batch dedups in-batch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def v(xs: Float*) = xs.toArray
    val cents = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, v(1f, 0f)), Row(1L, v(0f, 1f)))), schema)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    // corpus: one doc in cell 0 — even though its id (500) is larger than
    // every batch id, it wins against near-dup batch arrivals
    val corpus = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(500L, v(2f, 0.1f)))), schema)
    val idx = Dedup.semDedupIndex(corpus, cents)
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(5L, v(4f, 0.2f)),    // near-dup of corpus 500 → dropped (corpus wins)
      Row(6L, v(0.1f, 3f)),    // cell 1, novel → survives
      Row(7L, v(-0.2f, 5f)),   // cell 1, near-dup of 6 → dropped in-batch
      Row(8L, v(5f, -2f))      // cell 0, far from corpus 500 → survives
    )), schema)
    val out = Dedup.semDedupAgainstIndex(batch, idx, cents, threshold = 0.97)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out == Set(6L, 8L), s"got $out")
    // one-shot semDedup over corpus+batch would instead keep batch id 5
    // (smallest in its similarity group) — the index semantics differ by
    // design: what is already trained on stays authoritative
    val oneShot = Dedup.semDedup(corpus.unionByName(batch), cents, threshold = 0.97)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(oneShot.contains(5L) && !oneShot.contains(500L))
  }

  test("semDedup survives a dominant cell: identical copies collapse, overflow cells band") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def v(xs: Float*) = xs.toArray
    // adversarial fixture: one boilerplate embedding repeated 500× (all in
    // cell 0), one distinct same-direction near-dup with a smaller id, one
    // far vector in cell 1
    val hot = (1000L until 1500L).map(i => Row(i, v(2f, 0.1f)))
    val rows = hot ++ Seq(Row(10L, v(4f, 0.2f)), Row(20L, v(0.1f, 3f)))
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val cents = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(0L, v(1f, 0f)), Row(1L, v(0f, 1f)))), schema)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    // maxCellSize = 1 forces the banded overflow path for cell 0's two
    // DISTINCT vectors (the 500 copies never reach the pairwise stage) —
    // and CellCapMetrics makes the recall trade observable: 1 oversized
    // cell holding 2 distinct vectors
    val cm = new Dedup.CellCapMetrics(spark)
    val out = Dedup.semDedup(emb, cents, threshold = 0.99, maxCellSize = 1,
        cellMetrics = Some(cm))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // id 10 survives (smallest in its similarity group); the hot rep 1000
    // shares 10's direction hence its LSH signature, so banding finds the
    // pair and drops it; 20 is alone in cell 1
    assert(out == Set(10L, 20L), s"got $out")
    assert(cm.capped, "banded overflow fired but CellCapMetrics saw nothing")
    assert(cm.oversizedCells.value == 1L, cm.oversizedCells.value.toString)
    assert(cm.bandedVectors.value == 2L, cm.bandedVectors.value.toString)
    // and the exact path (cap not hit) agrees, with metrics reading clean
    val clean = new Dedup.CellCapMetrics(spark)
    val exact = Dedup.semDedup(emb, cents, threshold = 0.99,
        cellMetrics = Some(clean))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(exact == Set(10L, 20L), s"got $exact")
    assert(!clean.capped)
  }

  /** Scala reference for the winnow kernel: sliding-window minima of the
    * n-gram Horner shingle hashes, distinct.
    */
  private def bruteWinnow(text: String, n: Int, w: Int): Set[Long] = {
    val P = graft.functions.PortableHash.P
    val B = graft.functions.PortableHash.B
    val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
    def chash(s: String) = s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % P)
    val th = toks.map(chash)
    val sh = th.sliding(n).filter(_.size == n)
      .map(_.foldLeft(0L)((h, x) => (h * B + x) % P)).toVector
    if (sh.isEmpty) Set.empty
    else if (sh.size < w) Set(sh.min)
    else sh.sliding(w).map(_.min).toSet
  }

  test("winnowSignature matches the brute-force sliding-min reference") {
    val docs = sf("documents").limit(30).select("doc_id", "text")
    val got = docs
      .select(col("doc_id"), Dedup.winnowSignature(col("text"), n = 4, w = 5).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val want = bruteWinnow(text, n = 4, w = 5)
      assert(got.getOrElse(id, Set.empty[Long]) == want, s"doc $id")
    }
    // short docs (1..w-1 shingles) keep exactly the global min
    val short = Seq((1L, "a b c d e")).toDF("doc_id", "text") // 2 shingles at n=4
    val fps = short.select(Dedup.winnowSignature(col("text"), n = 4, w = 5))
      .collect().head.getSeq[Long](0)
    assert(fps.toSet == bruteWinnow("a b c d e", 4, 5) && fps.size == 1)
    // empty and sub-n docs produce no fingerprints
    val none = Seq((1L, ""), (2L, "a b c")).toDF("doc_id", "text")
    assert(none.select(explode(Dedup.winnowSignature(col("text"), 4, 5))).count() == 0)
  }

  test("winnowing guarantees detection of shared runs >= n + w - 1 tokens") {
    // n=4, w=4: any shared token run of length 7 must yield a shared fp
    val shared = "s1 s2 s3 s4 s5 s6 s7"
    val a = s"a1 a2 a3 a4 a5 $shared b1 b2 b3 b4 b5"
    val b = s"c1 c2 c3 $shared d1 d2 d3 d4 d5 d6 d7"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapJoin(df, n = 4, w = 4, minShared = 1)
      .collect()
    assert(pairs.length == 1)
    val r = pairs.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Long]("shared") >= 1L)
    // and unrelated docs share nothing
    val df2 = Seq((1L, "p q r s t u v w x y z"), (2L, "m n o aa bb cc dd ee ff gg")).toDF("doc_id", "text")
    assert(Dedup.winnowOverlapJoin(df2, n = 4, w = 4, minShared = 1).count() == 0)
  }

  test("winnowOverlapJoin hot-fingerprint cap drops boilerplate from pair generation") {
    // 20 docs all containing the same passage, plus disjoint unique tails
    val passage = "common header tokens one two three four five six seven"
    val docs = (0L until 20L)
      .map(i => (i, s"$passage u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"))
    val df = docs.toDF("doc_id", "text")
    val uncapped = Dedup.winnowOverlapJoin(df, n = 4, w = 4, minShared = 1)
    assert(uncapped.count() == 20L * 19 / 2) // every pair shares the passage
    // cap at 5 docs/fp: the passage fps are held by all 20 docs → dropped
    val capped = Dedup.winnowOverlapJoin(df, n = 4, w = 4, minShared = 1,
      maxDocsPerFp = Some(5))
    assert(capped.count() == 0)
  }

  test("ngramJaccardPrefix reproduces the all-pairs answer with a smaller pair-generation stream") {
    val docs = sf("documents").limit(300)
    // 2.0/3.0 (non-terminating in binary AND decimal) and 0.9 exercise
    // rounding paths in the length/positional/aggregate bounds that the
    // decimal-friendly thresholds never hit
    for (t <- Seq(0.2, 0.5, 2.0 / 3.0, 0.8, 0.9); ord <- Seq("df", "hash")) {
      val full = Dedup.ngramJaccard(docs, n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.ngramJaccardPrefix(docs, n = 2, threshold = t, order = ord)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"threshold $t order $ord: prefix path diverged from all-pairs")
    }
    // the planted near-dup pair survives the prefix filter
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val pair = Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPrefix(pair, n = 2, threshold = 0.8).collect()
    assert(out.length == 1 && out.head.getDouble(2) >= 0.8)
    // EXACT-boundary pair: 5 tokens vs the same + 1 → bigram shingle sets
    // of 4 ⊂ 5, jaccard = 4/5 = 0.8 exactly at threshold 0.8 — the staged
    // verification's bound prune and weak prune (both carry the −1.0
    // rounding slack) must keep it, and the exact filter must emit it
    val edge = Seq((1L, "a b c d e"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val eo = Dedup.ngramJaccardPrefix(edge, n = 2, threshold = 0.8).collect()
    assert(eo.length == 1 && eo.head.getDouble(2) == 0.8, eo.mkString(";"))
    // float-rounding regression (r17 review): a 28-shingle doc contained
    // in a 35-shingle doc is jaccard 28/35 = 0.8 exactly, but the
    // required-overlap bound in DIVIDED float form reads
    // 63·0.8/1.8 = 28.000000000000004 > 28 and silently dropped the pair
    // before the fix (multiply-through + the −1.0 admit-only slack)
    val w = (1 to 36).map(i => s"w$i")
    val big = Seq((1L, w.take(29).mkString(" ")), (2L, w.mkString(" ")))
      .toDF("doc_id", "text")
    for (ord <- Seq("df", "hash")) { // hash order assigns different __pos
      val bo = Dedup.ngramJaccardPrefix(big, n = 2, threshold = 0.8,
        order = ord).collect()
      assert(bo.length == 1 && bo.head.getDouble(2) == 0.8,
        s"$ord: ${bo.mkString(";")}")
      val bc = Dedup.crossCorpusJaccardPrefix(
        big.filter(col("doc_id") === 1), big.filter(col("doc_id") === 2),
        n = 2, threshold = 0.8, order = ord).collect()
      assert(bc.length == 1 && bc.head.getDouble(2) == 0.8,
        s"$ord: ${bc.mkString(";")}")
    }
  }

  test("crossCorpusJaccardPrefix reproduces the all-pairs cross answer, both orders") {
    val docs = sf("documents").limit(300)
    val left = docs.filter(col("doc_id") % 2 === 0)
    val right = docs.filter(col("doc_id") % 2 === 1)
    for (t <- Seq(0.2, 2.0 / 3.0, 0.8); ord <- Seq("df", "hash")) {
      val full = Dedup.crossCorpusJaccard(left, right, n = 2, threshold = t,
          maxDocsPerShingle = None)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.crossCorpusJaccardPrefix(left, right, n = 2, threshold = t,
          order = ord)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == full, s"threshold $t order $ord: cross prefix diverged")
    }
    // directionality: ids come out (left, right), never flipped or intra-side
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val l = Seq((2L, base), (4L, base)).toDF("doc_id", "text")
    val r = Seq((1L, base + " extra")).toDF("doc_id", "text")
    val out = Dedup.crossCorpusJaccardPrefix(l, r, n = 2, threshold = 0.8)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(out == Set((2L, 1L), (4L, 1L)), out.toString)
  }

  test("withGopherRules computes each rule feature exactly") {
    val bullets = "- item one\n- item two\nplain line here"
    val trailers = "first line...\nsecond line\nthird one…"
    val symbols = "# tag ..."
    val mixed = "the cat is on a mat"
    val df = Seq((1L, bullets), (2L, trailers), (3L, symbols), (4L, mixed), (5L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.withGopherRules(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("bullet_line_ratio") == 2.0 / 3.0)
    assert(out(2L).getAs[Double]("ellipsis_line_ratio") == 2.0 / 3.0)
    assert(out(3L).getAs[Double]("symbol_word_ratio") == 2.0 / 3.0) // one '#', one '...'
    assert(out(3L).getAs[Double]("mean_word_len") == 7.0 / 3.0)
    assert(out(4L).getAs[Long]("stop_hits") == 4L) // the, is, on, a
    assert(out(4L).getAs[Double]("alpha_word_ratio") == 1.0)
    // empty doc: all ratios 0, not kept
    assert(out(5L).getAs[Long]("n_words") == 0L)
    assert(!out(5L).getAs[Boolean]("keep_gopher"))
    // a long, clean document passes every rule
    val clean = (1 to 30).map(_ => "the quick brown fox jumps over a lazy dog and runs on").mkString(" ")
    val kept = TextAnalysis.withGopherRules(Seq((9L, clean)).toDF("doc_id", "text"))
      .collect().head
    assert(kept.getAs[Boolean]("keep_gopher"),
      s"expected keep: ${kept.mkString(", ")}")
  }

  test("featureHash + toDenseFeatures: sparse tf buckets assemble to dense vectors") {
    val df = Seq((1L, "a b a c"), (2L, "")).toDF("doc_id", "text")
    val sparse = TextAnalysis.featureHash(df, dim = 8)
    val rows = sparse.collect()
    // doc 1: three distinct tokens, "a" twice
    assert(rows.forall(_.getLong(0) == 1L), "empty doc must emit nothing")
    assert(rows.map(_.getLong(2)).sum == 4L)
    assert(rows.map(_.getLong(2)).max == 2L) // the doubled token
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    val dense = TextAnalysis.toDenseFeatures(sparse, dim = 8).collect()
    assert(dense.length == 1)
    val v = dense.head.getSeq[Float](1)
    assert(v.length == 8 && v.sum == 4f && v.max == 2f, v.toString)
    // dense and sparse agree bucket-for-bucket
    rows.foreach(r => assert(v(r.getInt(1)) == r.getLong(2).toFloat))
  }

  test("featureHashTfidf: corpus-wide buckets weigh zero, rare ones ln(N/df)") {
    val df = Seq((1L, "common rare1"), (2L, "common rare2"), (3L, "common rare3"))
      .toDF("doc_id", "text")
    // dim large enough that the 4 tokens don't collide
    val out = TextAnalysis.featureHashTfidf(df, dim = 4096).collect()
    val byW = out.groupBy(_.getAs[Double]("w_tfidf")).view.mapValues(_.length).toMap
    // "common" in all 3 docs → ln(3/3)=0 three times; each rareX →
    // ln(3/1) floored to micro-units
    assert(byW(0.0) == 3, byW.toString)
    assert(byW(math.floor(math.log(3.0) * 1e6) / 1e6) == 3, byW.toString)
  }

  test("withReadability: exact counts and the Flesch formula") {
    val df = Seq((1L, "The cat sat. The dog ran! Done?"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.withReadability(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 7L)
    assert(r1.getAs[Long]("n_sentences") == 3L)
    // vowel groups: e,a,a,e,o,a,o,e -> The(1) cat(1) sat(1) The(1) dog(1) ran(1) Done(2: o,e)
    assert(r1.getAs[Long]("n_syllables") == 8L)
    val w = 7.0; val s0 = 3.0; val sy = 8.0
    assert(r1.getAs[Double]("flesch") == 206.835 - 1.015 * (w / s0) - 84.6 * (sy / w))
    // empty doc: zero words -> null score, sentence floor at 1
    assert(out(2L).isNullAt(out(2L).fieldIndex("flesch")))
    assert(out(2L).getAs[Long]("n_sentences") == 1L)
  }
}
