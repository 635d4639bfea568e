package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Classifier, Similarity}
import graft.text.Bpe

class BpeKmeansSpec extends SparkSpec {
  import spark.implicits._

  test("bpe learns the classic merge sequence from word counts") {
    // the standard BPE textbook example: counts force ug, un, hug in order
    val words = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L),
      ("hugs", 5L))
    val merges = Bpe.learnFromCounts(words, numMerges = 3)
    assert(merges == Seq(("u", "g"), ("u", "n"), ("h", "ug")))
    // exhausting all pairs stops early instead of looping
    val all = Bpe.learnFromCounts(Seq(("ab", 1L)), numMerges = 10)
    assert(all == Seq(("a", "b")))
  }

  test("batched bpe learn is bit-identical to sequential, in fewer dictionary rounds") {
    // deterministic pseudo-random corpora (fixed-seed LCG — Math.random is
    // banned for replay): heavy tie and shared-symbol pressure from a tiny
    // alphabet, exactly the regime where unsafe batching would diverge
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)
    val alphabets = Seq("ab", "abc", "abcd", "abcde")
    for ((alpha, idx) <- alphabets.zipWithIndex) {
      val rnd = lcg(42L + idx)
      val words = (0 until 40).map { _ =>
        val len = 2 + math.floorMod(rnd.next(), 7).toInt
        val w = (0 until len).map(_ =>
          alpha(math.floorMod(rnd.next(), alpha.length).toInt)).mkString
        val c = 1L + math.floorMod(rnd.next(), 20)
        (w, c)
      }.groupBy(_._1).map { case (w, ws) => (w, ws.map(_._2).sum) }.toSeq.sorted
      val (seq1, rounds1) = Bpe.learnFromCountsWithRounds(words, numMerges = 30, maxBatch = 1)
      val (batch, roundsB) = Bpe.learnFromCountsWithRounds(words, numMerges = 30)
      assert(batch == seq1,
        s"alphabet '$alpha': batched $batch != sequential $seq1")
      assert(roundsB <= rounds1, s"batching took MORE rounds: $roundsB > $rounds1")
    }
    // the textbook corpus batches (ug and un share no symbols and un's
    // count clears the created-pair bound) and still matches sequential
    val hug = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
    val (m, r) = Bpe.learnFromCountsWithRounds(hug, numMerges = 3)
    assert(m == Seq(("u", "g"), ("u", "n"), ("h", "ug")))
    assert(r <= 3, s"expected a batching win on the textbook corpus, got $r rounds")
  }

  test("bpe segmentation applies merges lowest-rank-first") {
    val merges = Seq(("u", "g"), ("u", "n"), ("h", "ug"))
    val rank = merges.zipWithIndex.toMap
    assert(Bpe.segmentToken("hugs", rank) == Seq("hug", "s"))
    assert(Bpe.segmentToken("bug", rank) == Seq("b", "ug"))
    assert(Bpe.segmentToken("mun", rank) == Seq("m", "un"))
    assert(Bpe.segmentToken("xyz", rank) == Seq("x", "y", "z"))
    assert(Bpe.segmentToken("u", rank) == Seq("u"))
  }

  test("distributed learn + segment round-trips on a corpus") {
    val docs = Seq((1L, "hug hug hug pug pun"), (2L, "pun pun bun hugs"))
      .toDF("doc_id", "text")
    val merges = Bpe.learn(docs, numMerges = 3)
    assert(merges.take(1) == Seq(("u", "g"))) // ug appears in hug×3, pug, hugs
    val seg = Bpe.segment(docs, merges)
      .select(col("doc_id"), col("subwords"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // every subword concatenation reproduces the original tokens
    assert(seg(1L).mkString == "hughughugpugpun")
    // null text flows through
    val withNull = Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Bpe.segment(withNull, merges).collect().head.isNullAt(2))
  }

  test("kmeans recovers three well-separated clusters deterministically") {
    val pts = (0 until 30).map { i =>
      val c = i % 3
      val base = Array(0.0, 0.0, 0.0); base(c) = 10.0
      base(2 - c) += (i / 3) * 0.01 // tiny within-cluster spread
      (i.toLong, base.toSeq.map(_.toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(df, k = 3, iters = 5)
    val c = cents.collect().map(r => r.getSeq[Double](1))
    assert(c.length == 3)
    // each centroid is dominated by a distinct axis
    val domAxes = c.map(v => v.indexOf(v.max)).toSet
    assert(domAxes == Set(0, 1, 2))
    // assignment with the fitted centroids groups the points 10/10/10
    val sizes = Similarity.ivfAssign(
      df.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      cents)
      .groupBy("centroid_id").count().collect().map(_.getLong(1)).sorted.toSeq
    assert(sizes == Seq(10L, 10L, 10L))
  }

  test("kmeansFitPortable: exact integer fixture, separated-cluster recovery, empty cluster") {
    // hand-computable fixture: k=2, 1-dim, seeds = vecs 0 (0.0) and 1 (1.0).
    // quantized (scale 10): [0, 10, 2, 8]; round 1 assigns {0,2}→c0, {10,8}→c1
    // (2 is 2 from c0 vs 8 from c1; ties impossible); means: c0=(0+2)/2=1,
    // c1=(10+8)/2=9 — exact integers
    val df = Seq(
      (0L, Seq(0.0f)), (1L, Seq(1.0f)), (2L, Seq(0.2f)), (3L, Seq(0.8f))
    ).toDF("vec_id", "embedding")
    val c = Similarity.kmeansFitPortable(df, k = 2, iters = 1, scale = 10L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(c == Map(0L -> Seq(1L), 1L -> Seq(9L)), c.toString)
    // truncating division toward zero on NEGATIVE sums (the SQL // law):
    // float-EXACT coords -0.25 and 0.0 quantize (scale 10, floor) to
    // [-3, 0] → mean = -3 / 2 = -1 (floor division would say -2)
    val neg = Seq((0L, Seq(-0.25f)), (1L, Seq(5.0f)), (2L, Seq(0.0f)))
      .toDF("vec_id", "embedding")
    val cn = Similarity.kmeansFitPortable(neg, k = 2, iters = 1, scale = 10L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(cn(0L) == Seq(-1L), cn.toString)
    // three well-separated clusters recover exactly like the float variant
    val pts = (0 until 30).map { i =>
      val base = Array(0.0, 0.0, 0.0); base(i % 3) = 10.0
      (i.toLong, base.toSeq.map(_.toFloat))
    }
    val sep = pts.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFitPortable(sep, k = 3, iters = 4)
      .collect().map(_.getSeq[Long](1))
    assert(cents.map(v => v.indexOf(v.max)).toSet == Set(0, 1, 2), cents.toString)
    // a centroid that captures nothing keeps its coordinates
    val lone = Seq((0L, Seq(0.0f)), (1L, Seq(0.001f)), (2L, Seq(0.002f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.kmeansFitPortable(lone, k = 2, iters = 2, scale = 10L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kept.size == 2 && kept(1L) == Seq(0L), kept.toString)
  }

  test("kmeans seeding plans a bounded top-k, not a global sort") {
    val df = (0 until 1000).map(i => (i.toLong, Seq(i.toFloat, -i.toFloat)))
      .toDF("vec_id", "embedding").repartition(8)
    val seeded = Similarity.kmeansSeeds(df, k = 4, "vec_id", "embedding")
    val plan = seeded.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"seed selection should be a bounded per-partition top-k:\n$plan")
    assert(!plan.contains("Sort ["), s"global sort in seeding plan:\n$plan")
    // and the seeds really are the k smallest ids
    assert(seeded.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("logreg classifier separates a synthetic margin perfectly") {
    // labels decided by x0 > 0 with margin 1: GD must find it
    val pts = (0 until 40).map { i =>
      val sign = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Seq(sign * (1.0 + (i % 5)), (i % 7) - 3.0).map(_.toFloat),
        if (sign > 0) 1 else 0)
    }
    val df = pts.toDF("vec_id", "embedding", "lab")
    val (w, b) = Classifier.logregFit(df, col("lab"), dim = 2, iters = 40, lr = 1.0)
    val scored = Classifier.score(df, w, b).collect()
    assert(scored.forall { r =>
      (r.getDouble(3) >= 0.5) == (r.getInt(2) == 1)
    }, s"w=${w.toSeq} b=$b")
  }

  test("classifier scores are bit-stable under integer weights") {
    // integer weights + integer features: w·x is exact in doubles, and
    // score = 1/(1+exp(-m)) evaluates through the same Math.exp the Spark
    // expression uses — the collected doubles must equal the reference
    // computation BIT-FOR-BIT, pinning the scoring path (fold order
    // included), not just an accuracy bound
    val w = Array(2.0, -3.0, 1.0)
    val b = -1.0
    val pts = (0 until 12).map(i =>
      (i.toLong, Seq((i % 5 - 2).toFloat, (i % 3 - 1).toFloat, (i % 7 - 3).toFloat)))
    val df = pts.toDF("vec_id", "embedding")
    val got = Classifier.score(df, w, b).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    pts.foreach { case (id, v) =>
      val margin = v.map(_.toDouble).zip(w).map { case (x, wi) => x * wi }
        .foldLeft(0.0)(_ + _) + b
      val expect = 1.0 / (1.0 + math.exp(-margin))
      assert(got(id) == expect, // exact ==, no tolerance
        s"id=$id got=${java.lang.Double.doubleToLongBits(got(id))} " +
          s"want=${java.lang.Double.doubleToLongBits(expect)}")
    }
  }

  test("logreg rejects ragged training vectors loudly") {
    // a null or wrong-width vector must fail the fit, not skew it
    val ragged = Seq(
      (1L, Seq(1.0f, 2.0f), 1),
      (2L, Seq(1.0f), 0), // too short
      (3L, null.asInstanceOf[Seq[Float]], 1) // null
    ).toDF("vec_id", "embedding", "lab")
    val e = intercept[IllegalArgumentException] {
      Classifier.logregFit(ragged, col("lab"), dim = 2, iters = 1)
    }
    assert(e.getMessage.contains("2 training rows"), e.getMessage)
  }

  test("one-vs-rest multiclass recovers three separable clusters exactly") {
    val pts = (0 until 60).map { i =>
      val c = i % 3
      val centers = Seq((10.0, 0.0), (0.0, 10.0), (-10.0, -10.0))
      val (cx, cy) = centers(c)
      (i.toLong, Seq(cx + (i / 3) * 0.05, cy - (i / 3) * 0.05).map(_.toFloat), c)
    }
    val df = pts.toDF("vec_id", "embedding", "lab")
    val models = Classifier.logregFitOvr(df, col("lab"), nClasses = 3, dim = 2,
      iters = 15, lr = 1.0)
    val pred = Classifier.scoreOvr(df, models).collect()
    assert(pred.forall(r => r.getInt(3) == r.getInt(2)),
      pred.filter(r => r.getInt(3) != r.getInt(2)).take(3).mkString(","))
  }

  test("softmax multiclass recovers three separable clusters with calibrated probabilities") {
    val pts = (0 until 60).map { i =>
      val c = i % 3
      val centers = Seq((10.0, 0.0), (0.0, 10.0), (-10.0, -10.0))
      val (cx, cy) = centers(c)
      (i.toLong, Seq(cx + (i / 3) * 0.05, cy - (i / 3) * 0.05).map(_.toFloat), c)
    }
    val df = pts.toDF("vec_id", "embedding", "lab")
    val (w, b) = Classifier.softmaxFit(df, col("lab"), nClasses = 3, dim = 2,
      iters = 20, lr = 1.0)
    val scored = Classifier.scoreSoftmax(df, w, b).collect()
    assert(scored.forall(r => r.getAs[Int]("predicted_class") == r.getAs[Int]("lab")),
      scored.filter(r => r.getAs[Int]("predicted_class") != r.getAs[Int]("lab"))
        .take(3).mkString(","))
    // probabilities are a distribution (softmax couples the classes — the
    // property OvR's independent sigmoids lack)
    scored.foreach { r =>
      val ps = (0 until 3).map(k => r.getDouble(r.fieldIndex(s"prob_$k")))
      assert(ps.forall(p => p >= 0.0 && p <= 1.0))
      assert(math.abs(ps.sum - 1.0) < 1e-12, ps.toString)
    }
  }

  test("softmax first gradient step matches the closed form exactly") {
    // from w=0, b=0: p_k = 1/3 for every row, so after one step
    // w_k = -lr * (1/n) * sum_rows (1/3 - 1[y=k]) * x  (l2 = 0)
    val pts = Seq(
      (0L, Seq(1.0f, 2.0f), 0),
      (1L, Seq(-1.0f, 0.5f), 1),
      (2L, Seq(0.0f, -2.0f), 2),
      (3L, Seq(2.0f, 1.0f), 0))
    val df = pts.toDF("vec_id", "embedding", "lab")
    val lr = 0.7
    val (w, b) = Classifier.softmaxFit(df, col("lab"), nClasses = 3, dim = 2,
      iters = 1, lr = lr)
    val n = pts.length.toDouble
    for (k <- 0 until 3; i <- 0 until 2) {
      val grad = pts.map { case (_, x, y) =>
        (1.0 / 3.0 - (if (y == k) 1.0 else 0.0)) * x(i)
      }.sum
      assert(math.abs(w(k)(i) - (-lr * grad / n)) < 1e-12,
        s"w($k)($i)=${w(k)(i)} want ${-lr * grad / n}")
    }
    for (k <- 0 until 3) {
      val gradB = pts.map { case (_, _, y) => 1.0 / 3.0 - (if (y == k) 1.0 else 0.0) }.sum
      assert(math.abs(b(k) - (-lr * gradB / n)) < 1e-12, s"b($k)=${b(k)}")
    }
  }

  test("softmax rejects out-of-range labels and ragged vectors") {
    val bad = Seq((1L, Seq(1.0f, 2.0f), 3), (2L, Seq(1.0f, 2.0f), 0))
      .toDF("vec_id", "embedding", "lab")
    val e = intercept[IllegalArgumentException] {
      Classifier.softmaxFit(bad, col("lab"), nClasses = 3, dim = 2, iters = 1)
    }
    assert(e.getMessage.contains("1 training rows"), e.getMessage)
  }

  test("classifier quality filter learns real embedding labels above baseline") {
    val emb = sf("embeddings")
    val labeled = emb.withColumn("quality", (col("label") < 5).cast("int"))
    val (w, b) = Classifier.logregFit(labeled, col("quality"), dim = 64)
    val scored = Classifier.score(labeled, w, b)
    val acc = scored.select(
      avg(((col("quality_score") >= 0.5).cast("int") === col("quality")).cast("double")))
      .collect().head.getDouble(0)
    // numpy reference reaches 0.644 with the same hyperparameters; the
    // majority-class baseline is 0.504
    assert(acc >= 0.58, s"train accuracy $acc below expectation")
    // qualityFilter keeps exactly the >= threshold mass
    val kept = Classifier.qualityFilter(emb, labeled, col("quality"), dim = 64)
    assert(kept.count() == scored.filter(col("quality_score") >= 0.5).count())
  }

  test("calibration: exact bins, honest-confidence zero ECE, miscalibration detected") {
    import graft.similarity.Classifier
    // perfectly calibrated by construction: within each bin, score is the
    // bin midpoint and exactly that fraction of rows is positive
    val rows = for {
      bin <- 0 until 10
      i <- 0 until 20
    } yield (bin / 10.0 + 0.05, if (i < math.round((bin / 10.0 + 0.05) * 20)) 1 else 0)
    val df = rows.toDF("score", "y")
    val out = Classifier.calibration(df, col("score"), col("y"), nBins = 10)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out.keySet == (0 until 10).toSet)
    for ((bin, r) <- out) {
      assert(r.getAs[Long]("n") == 20)
      val acc = r.getAs[Double]("acc")
      val conf = r.getAs[Double]("conf")
      // midpoint scores: acc == conf to within the 1e-9 quantization
      assert(math.abs(acc - conf) < 1e-6, s"bin $bin acc=$acc conf=$conf")
      assert(r.getAs[Long]("ece_num") <= 20L, s"bin $bin ece=${r.getAs[Long]("ece_num")}")
    }
    // systematic overconfidence: score 0.95, only half positive -> big ECE mass
    val over = (0 until 100).map(i => (0.95, if (i < 50) 1 else 0)).toDF("score", "y")
    val bad = Classifier.calibration(over, col("score"), col("y"), nBins = 10)
      .collect().head
    assert(bad.getInt(0) == 9)
    // |50*1e9 - 100*0.95e9| = 45e9: ECE = 45e9/(100*1e9) = 0.45
    assert(bad.getAs[Long]("ece_num") == 45000000000L, bad.toString)
  }

  test("kCenterGreedyPortable: exact fixture, monotone radius, distinct picks") {
    // hand fixture (scale 10, 1-d): [0.0, 1.0, 0.4] → quantized [0, 10, 4].
    // Seed = lowest id (md 0); round 2 picks 1.0 (dist² 100 beats 16);
    // round 3's 0.4 is min(16 to the seed, 36 to 1.0) = 16 from the SET,
    // not just the latest center
    val df = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(0.4f)))
      .toDF("vec_id", "embedding")
    val sel = Similarity.kCenterGreedyPortable(df, k = 3, scale = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sel.toSeq == Seq((1L, 1L, 0L), (2L, 2L, 100L), (3L, 3L, 16L)), sel.toSeq)
    // property corpus (fixed-seed LCG): the covering radius² never grows
    // along the traversal — the 2-approximation's monotone invariant —
    // and picks never repeat
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)
    val rnd = lcg(7L)
    val pts = (0 until 40).map { i =>
      (i.toLong, Seq.fill(3)((math.floorMod(rnd.next(), 2001) - 1000) / 1000.0f))
    }.toDF("vec_id", "embedding")
    val run = Similarity.kCenterGreedyPortable(pts, k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(run.map(_._2).distinct.length == 12, "repeated pick")
    assert(run.head._2 == 0L, "seed must be the lowest id")
    val radii = run.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"covering radius grew along the traversal: ${radii.toSeq}")
    // budget > corpus fails loudly instead of looping or repeating
    val tiny = Seq((1L, Seq(0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kCenterGreedyPortable(tiny, k = 2, scale = 10L)
    }
  }

  test("selection kernels match a brute force at k=32, duplicate points included") {
    // LCG corpus, d=4, 60 points, PLUS exact duplicates of two early picks —
    // duplicates drive mindist to 0 for unselected rows, the tie regime
    // where a wrong selected-exclusion would diverge
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)
    val rnd = lcg(11L)
    val base = (0 until 60).map { i =>
      (i.toLong, Seq.fill(4)((math.floorMod(rnd.next(), 2001) - 1000) / 1000.0f))
    }
    val corpus = base ++ Seq((60L, base(0)._2), (61L, base(5)._2))
    val pts = corpus.toDF("vec_id", "embedding")
    // the reference recomputes every score from the whole selected set in
    // every round: the max of (score, -id) over the unselected points
    val xq = corpus.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000000.0).toLong)
    }.toMap
    def sqd(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def dot(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => x * y }.sum
    def bruteForce(k: Int)(score: (Long, Seq[Long]) => Long): Seq[(Long, Long, Long)] =
      (1 to k).foldLeft(Vector.empty[(Long, Long)]) { (sel, _) =>
        val picked = sel.map(_._1).toSet
        val (s, negId) = xq.keys.filterNot(picked).map(id => (score(id, sel.map(_._1)), -id)).max
        sel :+ ((-negId, s))
      }.zipWithIndex.map { case ((id, s), i) => (i + 1L, id, s) }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val kc = rows(Similarity.kCenterGreedyPortable(pts, k = 32))
    val kcRef = bruteForce(32) { (id, sel) =>
      if (sel.isEmpty) 0L else sel.map(s => sqd(xq(id), xq(s))).min
    }
    assert(kc == kcRef, s"kernel diverged from the brute force:\n$kc\nvs\n$kcRef")
    val query = Seq(0.25, -0.5, 0.75, 0.125)
    val qq = query.map(x => math.floor(x * 1000000.0).toLong)
    val mmr = rows(Similarity.mmrSelectPortable(pts, query, k = 32, lambdaPct = 70))
    val mmrRef = bruteForce(32) { (id, sel) =>
      70L * dot(xq(id), qq) - (if (sel.isEmpty) 0L else 30L * sel.map(s => dot(xq(id), xq(s))).max)
    }
    assert(mmr == mmrRef, s"kernel diverged from the brute force:\n$mmr\nvs\n$mmrRef")
  }

  test("selection kernels reject NULL and wrong-length vectors by vec_id or query") {
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.keySet
    def rejected(run: => Any): String = intercept[IllegalArgumentException](run).getMessage
    // before the check, zip_with padded the ragged id 2 with NULL and it
    // dropped out of both rankings
    val ragged = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 1.0f, 1.0f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val nulls = Seq((1L, Some(Seq(0.0f, 0.0f))), (2L, None), (3L, Some(Seq(0.5f, 0.5f))))
      .toDF("vec_id", "embedding")
    for (df <- Seq(ragged, nulls)) {
      val kc = rejected(Similarity.kCenterGreedyPortable(df, k = 2, scale = 10L))
      assert(kc.contains("vec_id 2"), kc)
      val mmr = rejected(Similarity.mmrSelectPortable(df, Seq(1.0, 0.0), k = 2, scale = 10L))
      assert(mmr.contains("vec_id 2"), mmr)
    }
    val short = rejected(Similarity.mmrSelectPortable(
      ragged.filter($"vec_id" =!= 2L), Seq(1.0), k = 2, scale = 10L))
    assert(short.contains("the query has 1"), short)
    // a rejected run releases its state too
    assert((sc.getPersistentRDDs.keySet -- held).isEmpty)
  }

  test("selection kernels throw an overflow as an ArithmeticException") {
    // 3e12 quantizes to 3e18, whose squared distance and dot product
    // overflow a long
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.keySet
    val df = Seq((1L, Seq(3e12)), (2L, Seq(-3e12)), (3L, Seq(0.0))).toDF("vec_id", "embedding")
    intercept[ArithmeticException](Similarity.kCenterGreedyPortable(df, 3))
    intercept[ArithmeticException](Similarity.mmrSelectPortable(df, Seq(3e12), 2))
    assert((sc.getPersistentRDDs.keySet -- held).isEmpty)
  }

  test("selection kernels and their script ops release every RDD they persist") {
    import graft.script.ScriptEngine
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.keySet
    val corpus = (0 until 20).map(i => (i.toLong, Seq((i % 7).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val query = Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("embedding")
    Similarity.kCenterGreedyPortable(corpus, k = 5).collect()
    Similarity.mmrSelectPortable(corpus, Seq(1.0, 0.0), k = 5).collect()
    val out = ScriptEngine.run(spark,
      """kc = OPERATOR 'graft.script.ops.KCenterSelect' corpus ('k': '5');
        |mmr = OPERATOR 'graft.script.ops.MmrSelect' corpus, q ('k': '5');""".stripMargin,
      env0 = Map("corpus" -> corpus, "q" -> query))
    assert(out("kc").count() == 5 && out("mmr").count() == 5)
    val left = sc.getPersistentRDDs.keySet -- held
    assert(left.isEmpty, s"RDDs still persisted: ${left.toSeq.sorted}")
  }

  test("mmrSelectPortable: relevance first, then the diversity penalty reorders") {
    // scale 10, query [1, 0]: rel a=100, b=90, c=0. λ=50%: pick a (5000);
    // then b and c BOTH score 0 (b's 4500 relevance is fully cancelled by
    // its similarity to a) — the tie breaks to the lower id, so b; c's
    // final score goes negative: 0 − 50·sim(c,b)=10 → −500
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val sel = Similarity.mmrSelectPortable(df, Seq(1.0, 0.0), k = 3,
      lambdaPct = 50, scale = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sel.toSeq == Seq((1L, 1L, 5000L), (2L, 2L, 0L), (3L, 3L, -500L)), sel.toSeq)
    // λ=100 degenerates to pure relevance order (no diversity penalty)
    val pure = Similarity.mmrSelectPortable(df, Seq(1.0, 0.0), k = 3,
      lambdaPct = 100, scale = 10L).collect().map(_.getLong(1))
    assert(pure.toSeq == Seq(1L, 2L, 3L), pure.toSeq)
    // λ=0 ignores the query after the first pick and spreads: the seed is
    // the tie-broken lowest id (all scores 0), then the LEAST similar next
    val spread = Similarity.mmrSelectPortable(df, Seq(1.0, 0.0), k = 2,
      lambdaPct = 0, scale = 10L).collect().map(_.getLong(1))
    assert(spread.toSeq == Seq(1L, 3L), spread.toSeq)
  }
}
