package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dictionary, WindowOps}

class WindowDictSpec extends SparkSpec {
  import spark.implicits._

  private val scores = Seq(
    ("g1", "a", 30), ("g1", "b", 30), ("g1", "c", 10),
    ("g2", "d", 5)).toDF("g", "id", "score")

  test("RANK is row_number semantics — increments on ties (RankOperator.java:88-97)") {
    val out = WindowOps.rank(scores, "rnk", Seq("g"), Seq($"score".desc, $"id"))
      .filter($"g" === "g1").collect().map(r => r.getString(1) -> r.getInt(3)).toMap
    assert(out == Map("a" -> 1, "b" -> 2, "c" -> 3)) // tie a/b still 1,2
    val gap = WindowOps.gapRank(scores, "rnk", Seq("g"), Seq($"score".desc))
      .filter($"g" === "g1").collect().map(r => r.getString(1) -> r.getInt(3)).toMap
    assert(gap("a") == 1 && gap("b") == 1 && gap("c") == 3) // SQL RANK gaps
  }

  test("TOP N takes first N per group (TopNOperator.java:67-86)") {
    val out = WindowOps.topN(scores, 2, Seq("g"), Seq($"score".desc, $"id"))
    assert(out.count() == 3) // 2 from g1, 1 from g2
    assert(!out.columns.contains("__rank"))
  }

  test("lag/lead/moving frames (the reference's 'coming soon' analytics)") {
    val df = Seq(("g", 1, 10.0), ("g", 2, 20.0), ("g", 3, 30.0)).toDF("g", "i", "v")
    val out = WindowOps.movingAgg(
      WindowOps.withLag(df, $"v", "prev", Seq("g"), Seq($"i")),
      sum($"v"), "mov", Seq("g"), Seq($"i"), -1, 0)
      .orderBy("i").collect()
    assert(out.map(r => Option(r.get(3))) sameElements Array(None, Some(10.0), Some(20.0)))
    assert(out.map(_.getDouble(4)).toSeq == Seq(10.0, 30.0, 50.0))
  }

  test("ntile/percent_rank/cume_dist distribution analytics") {
    val df = Seq(("g", 1), ("g", 2), ("g", 3), ("g", 4)).toDF("g", "i")
    val out = WindowOps.withCumeDist(
      WindowOps.withPercentRank(
        WindowOps.withNtile(df, 2, "nt", Seq("g"), Seq($"i")), "pr", Seq("g"), Seq($"i")),
      "cd", Seq("g"), Seq($"i"))
      .orderBy("i").collect()
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 1, 2, 2))
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.0, 1.0 / 3, 2.0 / 3, 1.0))
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.25, 0.5, 0.75, 1.0))
  }

  test("dictionary codes start at 1 in sorted order (CodeDictionary.java:41)") {
    val df = Seq("cherry", "apple", "banana", "apple").toDF("fruit")
    val dict = Dictionary.create(df, "fruit").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dict == Map("apple" -> 1, "banana" -> 2, "cherry" -> 3))
  }

  test("dictionary refresh keeps existing codes stable (DictionaryRefresh*Operator)") {
    val d0 = Dictionary.create(Seq("b", "a").toDF("c"), "c")
    val d1 = Dictionary.refresh(d0, Seq("c", "a", "z").toDF("c"), "c").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d1 == Map("a" -> 1, "b" -> 2, "c" -> 3, "z" -> 4))
  }

  test("ENCODE/DECODE round-trip with NULLS and UNKNOWNS handling (DictionaryEncodeOperator.java:48)") {
    val data = Seq(Some("a"), Some("b"), None, Some("zz")).toDF("c")
    val dict = Dictionary.create(Seq("a", "b").toDF("c"), "c")
    val enc = Dictionary.encode(data, "c", dict, nullsAs = 0, unknownsAs = Some(-1))
    val codes = enc.collect().map(r => if (r.isNullAt(0)) null else r.getInt(0)).toSet
    assert(codes == Set(1, 2, 0, -1))
    val dec = Dictionary.decode(
      Dictionary.encode(Seq("a", "b").toDF("c"), "c", dict), "c", dict)
    assert(dec.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("encode/decode survive clashing and duplicate fact columns, keep order (r17 review)") {
    // a fact with its own 'code' and 'colvalue' columns: the old unqualified
    // join refs were ambiguous / dropped the fact's columns
    val dict = Dictionary.create(Seq("x", "y").toDF("c"), "c")
    val fact = Seq(("x", 7, "keepme"), ("y", 8, "also"))
      .toDF("c", "code", "colvalue")
    val enc = Dictionary.encode(fact, "c", dict)
    assert(enc.columns.toSeq == Seq("c", "code", "colvalue"), "column order/set")
    assert(enc.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
      == Set((1, 7, "keepme"), (2, 8, "also")))
    val dec = Dictionary.decode(enc, "c", dict)
    assert(dec.columns.toSeq == Seq("c", "code", "colvalue"))
    assert(dec.collect().map(_.getString(0)).toSet == Set("x", "y"))
    // in-place replacement: the encoded column keeps its position
    val abc = Dictionary.encode(
      Seq(("x", 1L, true)).toDF("a", "b", "cc").withColumnRenamed("a", "k"),
      "k", dict)
    assert(abc.columns.toSeq == Seq("k", "b", "cc"))
  }

  test("decode nullsAs: encoded NULLs decode to NULL, not the unknowns string (r17 review)") {
    val dict = Dictionary.create(Seq("a", "b").toDF("c"), "c")
    val data = Seq(Some("a"), None).toDF("c")
    val enc = Dictionary.encode(data, "c", dict, nullsAs = -1)
    val dec = Dictionary.decode(enc, "c", dict,
      unknownsAs = Some("?"), nullsAs = -1)
    val got = dec.collect().map(r => Option(r.getString(0))).toSet
    assert(got == Set(Some("a"), None), got.toString) // was Some("?") for the null
  }

  test("refreshMulti keeps per-column codes; refresh refuses the multi shape (r17 review)") {
    val base = Seq(("a", "p"), ("b", "q")).toDF("c1", "c2")
    val multi = Dictionary.createMulti(base, Seq("c1", "c2"))
    intercept[IllegalArgumentException](
      Dictionary.refresh(multi, base, "c1"))
    // new value for c1 that ALREADY exists under c2 must still get a c1 code
    val more = Seq(("q", "r")).toDF("c1", "c2")
    val refreshed = Dictionary.refreshMulti(multi, more, Seq("c1", "c2"))
    val c1 = refreshed.filter(col("colname") === "c1")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(c1 == Map("a" -> 1, "b" -> 2, "q" -> 3), c1.toString)
    val c2 = refreshed.filter(col("colname") === "c2")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(c2 == Map("p" -> 1, "q" -> 2, "r" -> 3), c2.toString)
  }

  test("gapFill densifies to the step grid and fills forward deterministically") {
    val ev = Seq((1L, 100L, 1.0, 1L), (1L, 145L, 2.0, 2L), (1L, 310L, 3.0, 3L),
      (2L, 55L, 9.0, 4L)).toDF("k", "ts", "v", "id")
    val out = WindowOps.gapFill(ev, Seq("k"), "ts", "v", step = 100L, tieBreak = "id")
      .select("k", "bucket", "observed", "v")
      .as[(Long, Long, Boolean, Double)].collect().sortBy(r => (r._1, r._2))
    // key 1: bucket 100 holds two events — the LATER (ts=145, v=2.0) wins;
    // bucket 200 is a gap filled from 100; bucket 300 observed.
    assert(out.toSeq == Seq(
      (1L, 100L, true, 2.0), (1L, 200L, false, 2.0), (1L, 300L, true, 3.0),
      (2L, 0L, true, 9.0)))
  }

  test("rollingStats trailing frame: exact sums, z-score, anomaly flag") {
    val df = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 10L), (5L, 0L))
      .toDF("b", "qv").withColumn("k", lit("a"))
    val out = WindowOps.rollingStats(df, Seq("k"), "b", "qv", window = 3,
        zThreshold = 1.0)
      .orderBy("b").collect()
    // constant frames (b 1..3): var 0, z null, not anomalous
    (0 to 2).foreach { i =>
      assert(out(i).getAs[Double]("roll_var") == 0.0)
      assert(out(i).isNullAt(out(i).fieldIndex("zscore")))
      assert(!out(i).getAs[Boolean]("is_anomaly"))
    }
    // b4: frame {0,0,10} -> mean 10/3, var 200/9, z = sqrt(2)
    assert(math.abs(out(3).getAs[Double]("zscore") - math.sqrt(2.0)) < 1e-12)
    assert(out(3).getAs[Boolean]("is_anomaly")) // threshold 1.0
    // b5: frame {0,10,0} -> z = -sqrt(0.5)
    assert(math.abs(out(4).getAs[Double]("zscore") + math.sqrt(0.5)) < 1e-12)
  }

  test("encode/decode broadcast the dictionary only while it fits — and answer identically either way") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the optimizer folds ResolvedHint into Join.hint, so the pin reads
    // the join's own hint info
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst { case j: Join => j.hint }
        .exists(h => Seq(h.leftHint, h.rightHint).flatten.exists(_.strategy.isDefined))
    val df = Seq(("a", 1), ("b", 2), ("c", 3), (null, 4)).toDF("v", "k")
    val dict = Dictionary.create(df, "v")
    // a small dictionary takes the broadcast side of Joins.boundedBroadcast
    // (its two tiers are pinned in JoinsSpec)
    assert(hinted(Dictionary.encode(df, "v", dict, unknownsAs = Some(-1))))
    assert(hinted(Dictionary.decode(df.withColumn("v", lit(1)), "v", dict)))
    // and Spark's shuffle join (hints off, no size-based broadcast)
    // answers identically to the broadcast path
    def pairs = {
      val enc = Dictionary.encode(df, "v", dict, unknownsAs = Some(-1))
      val dec = Dictionary.decode(enc, "v", dict, unknownsAs = Some("?"))
      (enc.collect().map(r => (r.getAs[Int]("k"), r.getAs[Int]("v"))).sortBy(_._1).toSeq,
        dec.collect().map(r => (r.getAs[Int]("k"), Option(r.getAs[String]("v")))).sortBy(_._1).toSeq)
    }
    val viaBroadcast = pairs
    val shuffleConfs = Seq("spark.sql.optimizer.disableHints" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    shuffleConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val plan = Dictionary.encode(df, "v", dict, unknownsAs = Some(-1))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Broadcast"), s"hints off still broadcasts:\n$plan")
      assert(pairs == viaBroadcast)
    } finally shuffleConfs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("encodeAll/decodeAll round-trip several columns through their dictionaries") {
    val df = Seq(("a", "x"), ("b", "y"), ("a", "y")).toDF("c1", "c2")
    val dicts = Map(
      "c1" -> Dictionary.create(df, "c1"),
      "c2" -> Dictionary.create(df, "c2"))
    val enc = Dictionary.encodeAll(df, dicts)
    // both columns are integer codes now
    assert(enc.schema("c1").dataType.typeName == "integer")
    assert(enc.schema("c2").dataType.typeName == "integer")
    val back = Dictionary.decodeAll(enc, dicts)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(back.toSeq == Seq(("a", "x"), ("a", "y"), ("b", "y")))
  }
}
