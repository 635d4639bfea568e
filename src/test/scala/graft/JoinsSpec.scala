package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def li = sf("lineitem")
  private def ord = sf("orders").withColumnRenamed("o_orderkey", "l_orderkey")

  test("join-type keywords map per grammar CubertPhysical.g4:112-114") {
    assert(Joins.joinType("") == "inner")
    assert(Joins.joinType("LEFT OUTER") == "left_outer")
    assert(Joins.joinType("full") == "full_outer")
    assert(Joins.joinType("semi") == "left_semi")
  }

  test("merge join and hash join agree with each other and with key arithmetic") {
    val m = Joins.mergeJoin(li, ord, Seq("l_orderkey")).count()
    val h = Joins.hashJoin(li, ord, Seq("l_orderkey")).count()
    val r = Joins.rsJoin(li, ord, Seq("l_orderkey")).count()
    assert(m == h && h == r && m == li.count()) // every lineitem has its order
  }

  test("outer joins keep unmatched sides (MergeJoinOperator outer variants)") {
    val a = Seq((1, "a"), (2, "b")).toDF("k", "va")
    val b = Seq((2, "x"), (3, "y")).toDF("k", "vb")
    assert(Joins.mergeJoin(a, b, Seq("k"), "left").count() == 2)
    assert(Joins.mergeJoin(a, b, Seq("k"), "right").count() == 2)
    assert(Joins.mergeJoin(a, b, Seq("k"), "full").count() == 3)
    assert(Joins.semiJoin(a, b, Seq("k")).collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(Joins.antiJoin(a, b, Seq("k")).collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("hash join broadcasts the build side (HashJoinOperator.java:39)") {
    val plan = Joins.hashJoin(li, ord, Seq("l_orderkey")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$plan")
  }

  test("boundedBroadcast hints a relation only while it fits: bytes first, then a row-capped count") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    def hinted(df: DataFrame): Boolean = df.queryExecution.analyzed match {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _ => false
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      // tier one from the plan estimate: a small relation, no job
      assert(hinted(Joins.boundedBroadcast(Seq((1, "a"), (2, "b")).toDF("k", "v"))))
      // tier two: the estimate of range(2^28) is past the byte cap, so a
      // count decides — 10^7 + 1 rows are one past the row cap...
      val big = spark.range(1L << 28).toDF()
      assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Joins.BroadcastMaxBytes))
      assert(!hinted(Joins.boundedBroadcast(big.filter($"id" <= Joins.BroadcastMaxRows))))
      // ...while five rows of the same estimate keep their broadcast: the
      // q30-at-scale shape, a small dictionary computed from a big input
      // whose estimate never shrinks for cardinality
      assert(hinted(Joins.boundedBroadcast(big.filter($"id" < 5))))
    } finally spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(blocking = false) }
  }

  test("theta join supports range predicates (absent in reference, free here)") {
    val a = Seq(1, 5, 10).toDF("x")
    val b = Seq(3, 7).toDF("y")
    val out = Joins.thetaJoin(a, b, $"x" < $"y").count()
    assert(out == 3) // (1,3) (1,7) (5,7)
  }

  test("asof join picks the latest right row at-or-before each left ts") {
    val quotes = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
      (2L, 15L, 9.0)).toDF("k", "qts", "price")
    val trades = Seq((1L, 25L), (1L, 20L), (1L, 5L), (2L, 15L), (3L, 40L))
      .toDF("k", "tts")
    val got = Joins.asofJoin(trades, quotes, Seq("k"), "tts", "qts",
      how = "left_outer")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(got == Set(
      (1L, 25L, Some(2.0)), // latest quote <= 25 is ts 20
      (1L, 20L, Some(2.0)), // tie: simultaneous quote visible
      (1L, 5L, None),       // no quote yet
      (2L, 15L, Some(9.0)),
      (3L, 40L, None)))     // key never quoted
    // inner drops the unmatched rows
    assert(Joins.asofJoin(trades, quotes, Seq("k"), "tts", "qts").count() == 3)
  }

  test("range join equals the theta formulation but plans as an equi-join") {
    val l = Seq((1L, 100L), (1L, 130L), (1L, 200L), (2L, 50L)).toDF("k", "lts")
    val r = Seq((1L, 95L), (1L, 160L), (2L, 49L)).toDF("k", "rts")
    val banded = Joins.rangeJoin(l, r, Seq("k"), "lts", "rts",
      lower = 0L, upper = 40L)
    val got = banded.select("k", "lts", "rts").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    // oracle: lts in [rts, rts+40]
    assert(got == Set((1L, 100L, 95L), (1L, 130L, 95L), (1L, 200L, 160L),
      (2L, 50L, 49L)))
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join fell back to a product join:\n$plan")
  }

  test("bloom-pruned join is exact and filters the big side pre-shuffle") {
    val keep = ord.filter($"o_totalprice" > 150000.0)
    val pruned = Joins.bloomPrunedJoin(li, keep, Seq("l_orderkey"))
    val plain = li.join(keep, Seq("l_orderkey"))
    assert(pruned.count() == plain.count())
    // the filter must sit on the left scan side, below the join
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("UDF"), s"expected bloom prefilter in plan:\n$plan")
  }

  test("edit-distance join equals the quadratic cross-join filter (k=1 and k=2)") {
    val docs = sf("documents").select($"doc_id", substring($"text", 1, 16).as("key"))
    for (k <- 1 to 2) {
      val fast = Joins.editDistanceJoin(sf("documents"), k, substring($"text", 1, 16))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val a = docs.as("a"); val b = docs.as("b")
      val brute = a.join(b, $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id",
          levenshtein($"a.key", $"b.key").cast("long").as("dist"))
        .filter($"dist" <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fast == brute, s"k=$k: blocking missed or invented pairs")
      assert(brute.nonEmpty, "fixture produced no close pairs; test is vacuous")
    }
  }

  test("edit-distance join handles empty and duplicate keys") {
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, ""), (4L, ""), (5L, "xyz"))
      .toDF("doc_id", "key")
    val got = Joins.editDistanceJoin(df, 1, $"key", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 0L), (3L, 4L, 0L))) // exact dups at dist 0; '' vs 'xyz' not within 1
  }

  test("edit-distance join: no self-pairs from multi-keyed ids, no dup-row inflation") {
    // id 1 carries TWO keys within distance 1 of each other — the key-pair
    // expansion must never emit (1, 1); and a literally duplicated (id,
    // key) row must not multiply the pairs it participates in
    val df = Seq((1L, "ab"), (1L, "ac"), (2L, "ab"), (2L, "ab"))
      .toDF("doc_id", "key")
    val got = Joins.editDistanceJoin(df, 1, $"key", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(p => p._1 != p._2), s"self-pair emitted: ${got.mkString(",")}")
    // (1,2) via ab==ab at 0 and via ac~ab at 1 — one row per key pair,
    // regardless of row duplication
    assert(got.toSet == Set((1L, 2L, 0L), (1L, 2L, 1L)), got.mkString(","))
    assert(got.length == 2, s"duplicate rows inflated pairs: ${got.mkString(",")}")
    // output MULTIPLICITY contract, pinned: one row per (id pair, matching
    // KEY pair) — ids sharing several nearby keys repeat, with the key
    // pair as the evidence. Identical to the pre-rewrite implementation
    // (its distinct() kept the key columns, its final select dropped them
    // without re-deduping), and to the brute-force multiset below.
    val multi = Seq((1L, "ab"), (1L, "ac"), (2L, "ab"), (2L, "ac"))
      .toDF("doc_id", "key")
    val gotM = Joins.editDistanceJoin(multi, 1, $"key", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val a2 = multi.as("a"); val b2 = multi.as("b")
    val bruteM = a2.join(b2, $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        levenshtein($"a.key", $"b.key").cast("long").as("d"))
      .filter($"d" <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(gotM == bruteM, s"got=$gotM brute=$bruteM")
  }

  test("scdJoin picks the version valid at fact time; expired versions mask") {
    val facts = Seq(
      (1L, 5L),   // before any version → no match
      (1L, 15L),  // inside v1 [10, 20)
      (1L, 25L),  // gap: v1 closed at 20, v2 starts at 30 → no match
      (1L, 35L),  // inside the open v2 [30, null)
      (2L, 50L)   // user with no versions at all
    ).toDF("user_id", "ts")
    val dim = Seq(
      (1L, 10L, Some(20L), "v1"),
      (1L, 30L, None, "v2")
    ).toDF("user_id", "valid_from", "valid_to", "ver")
    val outer = Joins.scdJoin(facts, dim, Seq("user_id"), "ts",
        "valid_from", "valid_to", how = "left_outer")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.getAs[String]("ver"))).toMap
    assert(outer == Map(
      (1L, 5L) -> None, (1L, 15L) -> Some("v1"), (1L, 25L) -> None,
      (1L, 35L) -> Some("v2"), (2L, 50L) -> None), outer.toString)
    val inner = Joins.scdJoin(facts, dim, Seq("user_id"), "ts",
        "valid_from", "valid_to", how = "inner")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inner == Set((1L, 15L), (1L, 35L)), inner.toString)
  }

  test("rangeJoin bins exactly beyond 2^53 and supports keyless bands (r17 review)") {
    // epoch-nano-scale longs: float floor(ts/width) rounds and binned a row
    // beside its match before the integral-div fix
    val base = 1700000000000000000L // ~1.7e18 > 2^52
    val l = Seq((1L, base + 1000L)).toDF("k", "lts")
    val r = Seq((1L, base + 500L)).toDF("k", "rts")
    val got = Joins.rangeJoin(l, r, Seq("k"), "lts", "rts", 0L, 1000L)
    assert(got.count() == 1, "exact-band match at nano scale must survive")
    // keyless pure band join (used to throw empty.reduce)
    val g2 = Joins.rangeJoin(l.drop("k"), r.drop("k"), Seq.empty, "lts", "rts", 0L, 1000L)
    assert(g2.count() == 1)
    // reserved internal names refuse loudly instead of silent corruption
    intercept[IllegalArgumentException](
      Joins.rangeJoin(l.withColumn("__bin", lit(1)), r, Seq("k"), "lts", "rts", 0L, 1L))
    intercept[IllegalArgumentException](
      Joins.saltedJoin(l, r.withColumnRenamed("rts", "lts"), Seq("k"), salts = 0))
  }

  test("bloomPrunedJoin matches across joinable-but-mismatched key types (r17 review)") {
    val l = Seq((42, "a"), (7, "b")).toDF("k", "v") // IntegerType key
    val r = Seq((42L, 1.0)).toDF("k", "w")          // LongType key
    val got = Joins.bloomPrunedJoin(l, r, Seq("k"))
    // int-vs-long hashes differed pre-fix, so the bloom dropped the match
    assert(got.count() == 1 && got.collect().head.getString(1) == "a",
      got.collect().mkString(";"))
  }

  test("sortedNeighborhood pairs everything within the rank window, across grid cells") {
    // global order by (block, size, id): b/1, b/2, b/9, c/5, c/6 — window 2
    // pairs ONLY adjacent positions, including the b→c block boundary
    val df = Seq((1L, "b", 1), (2L, "b", 2), (9L, "b", 9), (5L, "c", 5), (6L, "c", 6))
      .toDF("id", "blk", "size")
    val got = Joins.sortedNeighborhood(df, "id", $"blk", $"size", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (2L, 9L, 1L), (9L, 5L, 1L), (5L, 6L, 1L)), got.toString)
    // window 3 adds the distance-2 pairs
    val w3 = Joins.sortedNeighborhood(df, "id", $"blk", $"size", window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w3 == Set((1L, 2L), (2L, 9L), (9L, 5L), (5L, 6L),
      (1L, 9L), (2L, 5L), (9L, 6L)), w3.toString)
    // the candidate plan is equi-keyed — no product join
    val plan = Joins.sortedNeighborhood(df, "id", $"blk", $"size", window = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"sorted neighborhood fell back to a product:\n$plan")
  }
}
