package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions.Builtins
import graft.text.{TextAnalysis, UrlOps}
import graft.dedup.Dedup
import graft.similarity.Similarity

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with a DuckDB oracle
  * in `oracleSql` where SQL-expressible. Column names/types are aligned
  * between the Spark result and the oracle (the driver's compare sorts
  * columns by name before hashing).
  */
object SparkEntry {

  /** Keyword profile for the q115 BM25 ranking (shared with its oracle). */
  val bm25Terms: Seq[String] = Seq("spark", "merge", "window", "customer")

  /** Planted-passage words for the q140 winnow overlap fixture (shared with
    * its oracle): interleaved with the group token so every 4-gram of the
    * passage is group-specific.
    */
  val winnowChunkWords: Seq[String] = Seq("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Supplier-node id offset for [[custSuppGraph]] — far above any custkey
    * at the SFs this library ships (sf1 tops out near 1.5·10^5; TPC-H
    * custkeys grow as 1.5·10^5·SF, so 10^7 holds through sf~66), and the
    * graph builder ASSERTS the disjointness instead of trusting the
    * comment. Mirrored literally in OracleGen.custSuppGraphCtes.
    */
  private val SupplierNodeOffset = 1000000000000L

  /** The customer↔supplier bipartite graph both directions (q199/q201;
    * oracle preamble: OracleGen.custSuppGraphCtes — keep the two in
    * sync). Supplier ids shift by +SupplierNodeOffset so the node spaces
    * stay disjoint; a collision would silently conflate graph nodes, so
    * the max custkey is checked, not assumed.
    */
  private[graft] def custSuppGraph(s: SparkSession, d: String): DataFrame = {
    // disjointness is ASSERTED in-dataflow (raise_error, zero extra jobs —
    // a driver-side max() would cost one action per graph query): any
    // custkey at or above the supplier offset fails the run loudly instead
    // of silently conflating nodes
    val guardedCust = when(col("o_custkey") >= SupplierNodeOffset,
      raise_error(concat(lit("custSuppGraph: o_custkey "), col("o_custkey"),
        lit(s" >= supplier-node offset $SupplierNodeOffset — node spaces " +
          "would collide; raise the offset"))).cast("long"))
      .otherwise(col("o_custkey"))
    val pairs = t(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(guardedCust.as("c"),
        (col("l_suppkey") + SupplierNodeOffset).as("sup"))
      .distinct()
    pairs.select(col("c").as("src"), col("sup").as("dst"))
      .unionByName(pairs.select(col("sup").as("src"), col("c").as("dst")))
  }

  /** q144 URL zoo: every normalization case, keyed off (doc_id, source);
    * mirrored by OracleGen.urlZooSql.
    */
  private def urlZoo(page: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example.COM"),
    when(col("doc_id") % 10 === 0, lit(":8080"))
      .when(col("doc_id") % 5 === 0,
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit("")),
    when(col("doc_id") % 4 === 0,
      concat(lit("/Pages/"), page, lit("?utm_source=feed&utm_medium=rss&page=2")))
      .when(col("doc_id") % 4 === 1, lit("/"))
      .when(col("doc_id") % 4 === 2, concat(lit("/a b/"), page, lit("?q=term&gclid=abc&ref=x")))
      .otherwise(concat(lit("/Pages/"), page, lit("?id="), page)),
    when(col("doc_id") % 7 === 0, lit("#Section-2")).otherwise(lit("")))

  /** q145 spelling variants that all normalize to
    * `https://<source>.example.com/p/<page>?id=<page>`; mirrored by
    * OracleGen.urlVariantsSql.
    */
  private def urlVariants(page: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".Example.com"),
    when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
    lit("/p/"), page, lit("?id="), page,
    when(col("doc_id") % 4 === 0, lit("&utm_source=x&utm_medium=y")).otherwise(lit("")),
    when(col("doc_id") % 4 === 2, lit("&fbclid=zz")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))

  /** Flagship query on sf=0.001: join + CUBE with additive and distinct
    * measures — the reference's headline combination (MeshJoin + CUBE).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    CubeOps.cube(
      Joins.rsJoin(li, ord.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey")),
      Seq("l_returnflag", "o_orderpriority"),
      Seq(("COUNT", lit(1), "n_rows"), ("SUM", col("l_quantity"), "sum_qty"),
        ("COUNT_DISTINCT", col("o_custkey"), "nd_cust")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 row transforms -------------------------------------------
    "q01_generate" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Relational.generate(li,
        (col("l_orderkey"), "l_orderkey"),
        (col("l_linenumber"), "l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")), "revenue"),
        (Builtins.caseWhen(
          Seq((col("l_returnflag") === "R", lit("returned"))), Some(lit("kept"))), "flag"),
        (concat(col("l_returnflag"), lit("_"), col("l_linestatus")), "rf_ls"),
        (col("l_quantity").cast("int"), "qty_int"),
        (Builtins.nvl(col("l_returnflag"), lit("?")), "rf_nvl"))
    }),
    "q02_filter" -> ((s, d) =>
      Relational.filter(t(s, d, "lineitem"),
        col("l_quantity") > 45 && col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")),
    "q03_limit" -> ((s, d) =>
      Relational.limit(
        Relational.orderByGlobal(t(s, d, "orders").select("o_orderkey", "o_totalprice"),
          col("o_totalprice").desc, col("o_orderkey")), 10)),
    "q04_distinct" -> ((s, d) =>
      Relational.distinct(t(s, d, "lineitem").select("l_returnflag", "l_linestatus"))),
    "q05_duplicate" -> ((s, d) =>
      Relational.duplicate(t(s, d, "region"), 3, Some("counter"))),
    "q06_flatten" -> ((s, d) =>
      Relational.flattenBag(t(s, d, "embeddings").select("vec_id", "embedding"),
        "embedding", "component")),
    "q07_gather" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_nationkey").as("nationkey"), col("c_name").as("name"))
      val sp = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"), col("s_name").as("name"))
      Relational.gather(c, sp)
    }),
    "q08_combine" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_acctbal").as("acctbal"), col("c_name").as("name"))
      val sp = t(s, d, "supplier").select(col("s_acctbal").as("acctbal"), col("s_name").as("name"))
      Relational.combine(Seq(col("acctbal"), col("name")), c, sp)
    }),
    "q09_sort" -> ((s, d) =>
      Relational.limit(Relational.orderByGlobal(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        col("o_totalprice").desc, col("o_orderkey")), 100)),
    "q47_tee_split" -> ((s, d) => {
      // TEE WITH SPLIT semantics as one relation: tag side-output rows
      // (reference: operator/TeeOperator.java:33 WITH SPLIT + IF cond)
      val li = t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      val (main, teed) = Relational.split(li, col("l_quantity") >= 25)
      main.withColumn("sink", lit("main"))
        .unionByName(teed.withColumn("sink", lit("tee")))
    }),
    "q48_multipass" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val passes = Relational.multipass(li)(
        df => df.groupBy(col("l_returnflag").as("key")).agg(sum("l_quantity").as("sum_qty"))
          .withColumn("pass", lit("by_flag")),
        df => df.groupBy(col("l_linestatus").as("key")).agg(sum("l_quantity").as("sum_qty"))
          .withColumn("pass", lit("by_status")))
      passes.reduce(_ unionByName _)
    }),

    // ---- §2.4 aggregations ----------------------------------------------
    "q10_groupby" -> ((s, d) =>
      Aggregations.groupBy(t(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"), Seq(
        ("SUM", col("l_quantity"), "sum_qty"),
        ("COUNT", lit(1), "n_rows"),
        ("MIN", col("l_quantity"), "min_qty"),
        ("MAX", col("l_quantity"), "max_qty"),
        ("AVG", col("l_quantity"), "avg_qty"),
        ("COUNT_DISTINCT", col("l_partkey"), "nd_parts")))),
    "q11_groupby_all" -> ((s, d) =>
      Aggregations.groupByAll(t(s, d, "lineitem"), Seq(
        ("SUM", col("l_quantity"), "sum_qty"),
        ("COUNT", lit(1), "n_rows"),
        ("COUNT_DISTINCT", col("l_orderkey"), "nd_orders"),
        ("MEDIAN", col("l_quantity"), "med_qty")))),
    "q12_count_distinct" -> ((s, d) =>
      Aggregations.groupBy(t(s, d, "lineitem"), Seq("l_returnflag"), Seq(
        ("COUNT_DISTINCT", col("l_partkey"), "nd_parts"),
        ("COUNT_DISTINCT", col("l_suppkey"), "nd_supps"),
        ("COUNT", lit(1), "n_rows")))),
    "q13_collect" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") <= 100)
        .groupBy("l_orderkey")
        .agg(
          array_join(transform(Aggregations.aggExpr("BAG", col("l_linenumber")),
            _.cast("string")), ",").as("lines"),
          array_join(Aggregations.aggExpr("COLLECT_SET", col("l_returnflag")), ",").as("flags"))),
    "q14_presence_bitmap" -> ((s, d) =>
      t(s, d, "events").groupBy("user_id")
        .agg(Aggregations.presenceBitmap(col("ts"), lit("2024-01-01")).as("presence"))),
    "q49_bitwise" -> ((s, d) =>
      Aggregations.groupBy(t(s, d, "lineitem"), Seq("l_returnflag"), Seq(
        ("BITWISE_OR", col("l_linenumber"), "or_lines"),
        ("BITWISE_AND", col("l_linenumber"), "and_lines"),
        ("BITWISE_XOR", col("l_partkey"), "xor_parts")))),

    // ---- §2.3 joins -------------------------------------------------------
    "q15_join_merge" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val ord = t(s, d, "orders")
      val cust = t(s, d, "customer"); val nat = t(s, d, "nation"); val reg = t(s, d, "region")
      val j = Joins.mergeJoin(li.withColumnRenamed("l_orderkey", "o_orderkey"), ord, Seq("o_orderkey"))
      val j2 = Joins.rsJoin(j.withColumnRenamed("o_custkey", "c_custkey"), cust, Seq("c_custkey"))
      val j3 = Joins.hashJoin(j2.withColumnRenamed("c_nationkey", "n_nationkey"), nat, Seq("n_nationkey"))
      val j4 = Joins.hashJoin(j3.withColumnRenamed("n_regionkey", "r_regionkey"), reg, Seq("r_regionkey"))
      j4.groupBy("r_name").agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    "q16_join_hash" -> ((s, d) => {
      val cust = t(s, d, "customer"); val nat = t(s, d, "nation"); val reg = t(s, d, "region")
      val nr = Joins.hashJoin(nat.withColumnRenamed("n_regionkey", "r_regionkey"), reg, Seq("r_regionkey"))
      Joins.hashJoin(cust.withColumnRenamed("c_nationkey", "n_nationkey"), nr, Seq("n_nationkey"))
        .groupBy("r_name", "n_name").agg(count(lit(1)).as("n_cust"), sum("c_acctbal").as("sum_bal"))
    }),
    "q17_join_left" -> ((s, d) => {
      val cust = t(s, d, "customer"); val ord = t(s, d, "orders")
      Joins.rsJoin(cust, ord.withColumnRenamed("o_custkey", "c_custkey"), Seq("c_custkey"), "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    }),
    "q18_join_full" -> ((s, d) => {
      val big = t(s, d, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("k"), col("o_orderkey").as("big_order"))
      val cust = t(s, d, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("k"), col("c_name"))
      Joins.rsJoin(cust, big, Seq("k"), "full")
    }),
    "q58_join_theta" -> ((s, d) => {
      // equi key + range predicate evaluated inside the join (theta join —
      // absent from the reference grammar, free in Spark; SURVEY §2.3)
      val li = t(s, d, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
      val ord = t(s, d, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
      Joins.thetaJoin(li, ord,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    "q56_join_salted" -> ((s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_quantity")
      val ord = t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(li, ord, Seq("l_orderkey"), salts = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    "q19_join_semi" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val bigOrders = t(s, d, "orders").filter(col("o_totalprice") > 200000)
        .withColumnRenamed("o_custkey", "c_custkey")
      Joins.semiJoin(cust, bigOrders, Seq("c_custkey")).select("c_custkey", "c_name")
    }),
    "q20_join_anti" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val ord = t(s, d, "orders").filter(col("o_totalprice") > 300000)
        .withColumnRenamed("o_custkey", "c_custkey")
      Joins.antiJoin(cust, ord, Seq("c_custkey")).select("c_custkey", "c_name")
    }),

    // ---- §2.4 CUBE family --------------------------------------------------
    "q21_cube" -> ((s, d) =>
      CubeOps.cube(t(s, d, "orders"), Seq("o_orderstatus", "o_orderpriority"), Seq(
        ("COUNT", lit(1), "n_rows"),
        ("SUM", col("o_orderkey"), "sum_key"),
        ("MIN", col("o_totalprice"), "min_price"),
        ("MAX", col("o_totalprice"), "max_price")))),
    "q22_rollup" -> ((s, d) =>
      CubeOps.rollup(t(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"), Seq(
        ("SUM", col("l_quantity"), "sum_qty"),
        ("COUNT", lit(1), "n_rows")))),
    "q23_grouping_sets" -> ((s, d) =>
      CubeOps.groupingSets(t(s, d, "orders"),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq(Seq("o_orderstatus"), Seq("o_orderpriority"), Seq()),
        Seq("count(1) AS n_rows", "CAST(sum(o_orderkey) AS BIGINT) AS sum_key"))),
    "q24_cube_count_distinct" -> ((s, d) =>
      CubeOps.cubeCountDistinct(t(s, d, "orders"),
        Seq("o_orderstatus", "o_orderpriority"), "o_custkey", "nd_cust",
        Seq(("COUNT", lit(1), "n_rows")))),
    "q25_cube_median" -> ((s, d) =>
      CubeOps.cube(t(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"), Seq(
        ("MEDIAN", col("l_quantity"), "med_qty"),
        ("COUNT", lit(1), "n_rows")))),
    "q26_duple_cube" -> ((s, d) =>
      CubeOps.dupleCube(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), Seq("l_orderkey"),
        "max", "sum(l_quantity)", "max_order_qty")),
    "q50_grouping_combos" -> ((s, d) =>
      CubeOps.groupingCombos(t(s, d, "orders"),
        Seq("o_orderstatus", "o_orderpriority"), 1,
        Seq("count(1) AS n_rows"))),
    // 4-dim (16 grouping sets) cube with reassociable measures — exercises
    // the CubePreAggregate rule (leaf aggregation below Expand)
    "q55_cube_wide" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"),
          year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_key"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))),

    // ---- §2.5 windowing ------------------------------------------------------
    "q27_rank" -> ((s, d) =>
      WindowOps.rank(t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        "rnk", Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")))),
    "q28_topn" -> ((s, d) =>
      WindowOps.topN(t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        3, Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")))),
    "q29_window_analytics" -> ((s, d) => {
      val base = t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      val pb = Seq("o_custkey")
      val ob = Seq(col("o_orderkey").asc)
      val withLag = WindowOps.withLag(base, col("o_totalprice"), "prev_price", pb, ob)
      val withLead = WindowOps.withLead(withLag, col("o_totalprice"), "next_price", pb, ob)
      WindowOps.movingAgg(
        WindowOps.movingAgg(withLead, count(lit(1)), "mov_n", pb, ob, -2, 0),
        sum(col("o_orderkey")), "mov_sum_key", pb, ob, -2, 0)
    }),

    // ---- §2.2 dictionary encode/decode ----------------------------------------
    "q30_dict_encode" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val dict = Dictionary.create(cust, "c_mktsegment")
      Dictionary.encode(cust.select("c_custkey", "c_mktsegment"), "c_mktsegment", dict)
        .select(col("c_custkey"), col("c_mktsegment").as("segment_code"))
    }),
    "q31_dict_roundtrip" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val dict = Dictionary.create(cust, "c_mktsegment")
      val enc = Dictionary.encode(cust.select("c_custkey", "c_mktsegment"), "c_mktsegment", dict)
      Dictionary.decode(enc, "c_mktsegment", dict)
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
    "q32_dictionary" -> ((s, d) =>
      Dictionary.create(t(s, d, "events"), "event_type")),

    // ---- §2.6 blockgen / bucketed tables ----------------------------------------
    "q33_blockgen" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val ord = t(s, d, "orders")
      Blockgen.blockgen(li, "g_li_b", Seq("l_orderkey"), Seq("l_orderkey"), 8)
      Blockgen.blockgen(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
        "g_ord_b", Seq("l_orderkey"), Seq("l_orderkey"), 8)
      Joins.meshJoin(s, "g_li_b", "g_ord_b", Seq("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    "q51_shuffle_blockgen_inflight" -> ((s, d) =>
      // SHUFFLE PARTITIONED ON p SORTED ON s, then a pivot-consuming agg
      Blockgen.blockgenInFlight(t(s, d, "lineitem"), Seq("l_orderkey"), Seq("l_orderkey", "l_linenumber"))
        .groupBy("l_orderkey").agg(max("l_linenumber").as("max_line"), sum("l_quantity").as("sum_qty"))),

    // ---- word count (the reference's example script) -----------------------------
    "q34_wordcount" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))),

    // ---- text analysis extensions --------------------------------------------------
    "q35_tokencount" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))),
    "q36_quality" -> ((s, d) =>
      TextAnalysis.withQualityFeatures(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "mean_token_len", "alpha_ratio", "space_ratio", "stopword_ratio")),
    "q37_langid" -> ((s, d) =>
      TextAnalysis.withLangId(t(s, d, "documents"))
        .select("doc_id", "lang", "lang_pred")),
    "q38_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q66_subword" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"))),
    "q68_langid_ngram" -> ((s, d) =>
      TextAnalysis.withLangIdNgram(t(s, d, "documents"))
        .select("doc_id", "lang", "lang_ngram")),
    // Gopher "most common word" rule: per-doc top-token count and fraction
    "q123_top_token" -> ((s, d) =>
      TextAnalysis.topTokenStats(t(s, d, "documents"))),

    // CCNet-style LM quality signal: bigram model fit on the even half of
    // the corpus, every doc scored; graded columns are the log-free
    // quantized form (avg_logp is the user-facing float convenience)
    "q114_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = graft.text.NgramLm.fit(docs.filter(col("doc_id") % 2 === 0), n = 2)
      graft.text.NgramLm.score(docs, lm)
        .select("doc_id", "n_ngrams", "n_oov", "sum_pq")
    }),

    // DSIR-style data selection: weight docs by target-vs-background LM
    // mass difference (quantized longs — exact); target fit on the
    // doc_id%3=0 slice, background on doc_id%3=1
    "q122_dsir_importance" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tgt = graft.text.NgramLm.fit(docs.filter(col("doc_id") % 3 === 0), n = 2)
      val bkg = graft.text.NgramLm.fit(docs.filter(col("doc_id") % 3 === 1), n = 2)
      graft.text.NgramLm.importanceScore(docs, tgt, bkg)
        .select("doc_id", "n_ngrams", "sum_pq_target", "sum_pq_background", "weight_q")
    }),

    // stupid-backoff variant of q114: seen bigrams score their MLE, unseen
    // ones back off to α·unigram with α=0.5 (exact in IEEE — see NgramLm)
    "q116_lm_backoff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bm = graft.text.NgramLm.fitBackoff(docs.filter(col("doc_id") % 2 === 0), n = 2)
      graft.text.NgramLm.scoreBackoff(docs, bm)
        .select("doc_id", "n_ngrams", "n_backoff", "sum_sq")
    }),

    // BM25 relevance: index the corpus once, rank the top 50 docs against
    // a keyword profile; graded columns are the quantized log-free score
    // (score_ln is the user-facing float convenience, dropped here)
    "q115_bm25" -> ((s, d) => {
      val idx = graft.text.Search.bm25Index(t(s, d, "documents"))
      graft.text.Search.bm25TopK(idx, SparkEntry.bm25Terms, k = 50)
        .select("doc_id", "score_q", "n_terms", "rank")
    }),

    // the standard dataset card: per-(source, lang) doc/token/char
    // accounting with exact token-count medians — one corpus scan, one
    // strata-sized aggregate
    "q119_corpus_report" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("__tok"), col("n_chars"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("__tok").as("sum_tokens"),
          min("__tok").as("min_tokens"),
          max("__tok").as("max_tokens"),
          median(col("__tok")).cast("double").as("med_tokens"),
          sum("n_chars").as("sum_chars"))),

    // hybrid retrieval: BM25 keyword ranking fused with brute-force cosine
    // ANN (query = vector 0) by reciprocal-rank fusion — per-list
    // contributions quantize before the per-doc sum, so the fused ranking
    // is bit-portable
    "q118_hybrid_rrf" -> ((s, d) => {
      val idx = graft.text.Search.bm25Index(t(s, d, "documents"))
      val lex = graft.text.Search.bm25TopK(idx, SparkEntry.bm25Terms, k = 50)
        .select("doc_id", "rank")
      val emb = t(s, d, "embeddings")
      val vec = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.text.Search.rrfFuse(Seq(lex, vec))
        .select("doc_id", "rrf_q", "n_lists", "rank")
    }),

    // ---- dedup extensions -------------------------------------------------------------
    "q39_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"))),
    // exact pairwise Jaccard is the quadratic ground-truth verifier — at
    // scale it runs on LSH candidates (q41), never all pairs; here it runs
    // on a deterministic 1-in-5 sample to keep the all-pairs check bounded
    "q40_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccard(t(s, d, "documents").filter(col("doc_id") % 5 === 0),
        n = 2, threshold = 0.05)),
    // prefix-filtered exact set-similarity join: same answer as the plain
    // all-pairs shingle join, but pair generation only touches each doc's
    // (1-t)|S|+1 smallest shingle hashes (lossless prefix-filter lemma)
    "q142_dedup_prefix" -> ((s, d) =>
      Dedup.ngramJaccardPrefix(t(s, d, "documents").filter(col("doc_id") % 2 === 0),
        n = 2, threshold = 0.8)),
    "q41_dedup_minhash" -> ((s, d) =>
      Dedup.minHashLsh(t(s, d, "documents"), shingleN = 3, k = 16, bands = 4)),
    "q42_dedup_simhash" -> ((s, d) =>
      Dedup.simHashCandidates(t(s, d, "documents"), maxHamming = 3)),
    // incremental shape of q41: 90% of docs form a pre-built band index,
    // the 10% "new batch" is banded and joined against it — the corpus is
    // never re-signed per batch
    "q113_minhash_batch_index" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val index = Dedup.minHashIndex(docs.filter(col("doc_id") % 10 =!= 0),
        shingleN = 3, k = 16, bands = 4)
      Dedup.minHashLshAgainstIndex(docs.filter(col("doc_id") % 10 === 0), index,
        shingleN = 3, k = 16, bands = 4)
    }),
    "q57_dedup_pipeline" -> ((s, d) =>
      Dedup.minHashDedup(t(s, d, "documents"), shingleN = 3, k = 16, bands = 4,
        threshold = 0.2)),
    "q43_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDup(t(s, d, "embeddings"), threshold = 0.45)),
    // the 100 TB shape of q43: LSH band buckets generate candidates, exact
    // cosine verifies only those
    "q69_embed_neardup_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupLsh(t(s, d, "embeddings"), threshold = 0.45)
        .select("id_a", "id_b", "cosine")),

    // ---- similarity search extensions ----------------------------------------------------
    "q44_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .select("query_id", "neighbor_id", "rank")
    }),
    // one most-central representative per coarse cell (coreset seeding)
    "q187_diverse_select" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Similarity.diverseSelect(emb.filter(col("vec_id") >= 8), cents)
    }),
    // margin-criterion bitext mining between two disjoint embedding sets
    "q186_margin_mine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.marginMine(
        emb.filter(col("vec_id") < 30),
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 200),
        k = 4, threshold = 0.0)
    }),
    "q45_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .select("query_id", "neighbor_id", "rank")
    }),
    "q64_ann_ivf" -> ((s, d) => {
      // IVF coarse-quantized ANN (nprobe=1); centroid set is deterministic
      // (every 50th vector) so the cell assignment is oracle-checkable
      val emb = t(s, d, "embeddings")
      val cent = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), cent, k = 5)
        .select("query_id", "neighbor_id", "rank")
    }),
    // the recall dial on the non-PQ IVF path: queries probe their 2
    // nearest cells — same centroid set as q64, strictly wider candidates
    "q133_ann_ivf_nprobe" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cent = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), cent, k = 5, nprobe = 2)
        .select("query_id", "neighbor_id", "rank")
    }),

    // ---- multimodal plumbing ----------------------------------------------------------------
    "q46_multimodal_meta" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.asMedia(
        t(s, d, "documents").select("doc_id", "text"), col("text"), "image", "png")
      media.select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.media_type").as("media_type"))
    }),

    // ---- script front end (grammar CubertPhysical.g4 → DataFrame) -----------------------------
    "q53_script_agg" -> ((s, d) =>
      graft.script.ScriptEngine.run(s,
        s"""li = LOAD '$d/lineitem.parquet' USING PARQUET;
           |f = FILTER li BY l_quantity > 45 AND l_returnflag = 'R';
           |g = GROUP f BY l_returnflag, l_linestatus
           |    AGGREGATES SUM(l_quantity) AS sum_qty, COUNT(1) AS n_rows;""".stripMargin)("g")),
    "q54_script_join_cube" -> ((s, d) =>
      graft.script.ScriptEngine.run(s,
        s"""ord = LOAD '$d/orders.parquet' USING PARQUET;
           |cust = LOAD '$d/customer.parquet' USING PARQUET;
           |oc = FROM ord GENERATE o_custkey AS c_custkey, o_totalprice;
           |j = HASH-JOIN oc BY c_custkey, cust BY c_custkey;
           |c = CUBE j BY c_mktsegment
           |    AGGREGATES COUNT(1) AS n_rows, SUM(o_totalprice) AS sum_price;""".stripMargin)("c")),

    "q59_sessionize" -> ((s, d) => {
      // batch sessionization on exact microsecond integers (events.parquet
      // stores TIMESTAMP(MICROS) without timezone; session tz is UTC so the
      // NTZ→LTZ cast is the identity instant and unix_micros matches
      // DuckDB's epoch_us on the naive value)
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      WindowOps.sessionize(ev, "user_id", "ts_us", gap = 1800L * 1000000L)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min("ts_us").as("start_us"))
    }),

    // ---- events / json map projection ---------------------------------------------------------
    "q52_map_projection" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))),

    // ---- dedup clustering / pipeline composition ---------------------------------------------
    // near-dup pairs → connected components → one cluster label per doc:
    // the step that turns pairwise matches into "keep one per cluster"
    "q60_dedup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Dedup.minHashDedup(t(s, d, "documents"),
        shingleN = 3, k = 16, bands = 4, threshold = 0.2))),
    // soft dedup: weight every doc by 1/|duplicate cluster| instead of
    // dropping non-survivors — duplicate groups contribute ~one doc of
    // mass under weighted sampling
    "q121_soft_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(Dedup.minHashDedup(docs,
        shingleN = 3, k = 16, bands = 4, threshold = 0.2))
      Dedup.softDedupWeights(docs, clusters)
    }),

    // full dedup pipeline: LSH pairs → verify → clusters → keep min-id doc
    // per cluster plus every unclustered doc
    "q65_dedup_survivors" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(Dedup.minHashDedup(docs,
        shingleN = 3, k = 16, bands = 4, threshold = 0.2))
      Dedup.clusterSurvivors(docs.select("doc_id"), clusters)
    }),
    // quality-preferring near-dup survivors: same clusters as q65, but the
    // longest copy (n_chars) wins instead of the smallest id
    "q125_dedup_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(Dedup.minHashDedup(docs,
        shingleN = 3, k = 16, bands = 4, threshold = 0.2))
      Dedup.survivorsBy(docs, clusters, col("n_chars"))
        .select("doc_id", "n_chars")
    }),
    // composed training-data filter: quality features + language id +
    // C4-style keep rules, in one codegen'd pass over documents
    // the screen composition: the pushdown fence keeps the quality filter
    // ABOVE the feature projection — pushed into it, the predicate
    // re-derives every feature per row interpreted (see
    // plans/PushdownBarrier.scala; ~1.4x at sf10)
    "q61_quality_filter" -> ((s, d) =>
      graft.plans.PushdownBarrier(
        TextAnalysis.withLangId(TextAnalysis.withQualityFeatures(t(s, d, "documents"))))
        .filter(col("n_tokens") >= 10 && col("alpha_ratio") > 0.5 &&
          col("stopword_ratio") >= 0.02 && col("lang_pred") === "en")
        .select("doc_id", "n_tokens", "lang_pred")),

    // ---- §2.5 windowing: distribution analytics ----------------------------------------------
    "q62_window_distribution" -> ((s, d) => {
      val base = t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      val pb = Seq("o_custkey"); val ob = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
      WindowOps.withCumeDist(
        WindowOps.withPercentRank(
          WindowOps.withNtile(base, 4, "quartile", pb, ob), "pct_rank", pb, ob),
        "cume", pb, ob)
    }),

    // ---- §4.1 incremental MV: refresh + rollup vs direct recompute ---------------------------
    "q63_incremental_mv" -> ((s, d) => {
      // month-partitioned summary over orders; first refresh covers history
      // to 1996-12, second processes only the newer months (the delta), then
      // the rollup must equal a direct full recompute (the oracle). Integral
      // measures so the two-level rollup is bit-exact.
      val fact = t(s, d, "orders").select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int").as("dt"),
        col("o_orderpriority"), col("o_orderkey"))
      val mv = s"/tmp/graft-mv-q63/${java.lang.Integer.toHexString(d.hashCode)}"
      val p = new org.apache.hadoop.fs.Path(mv)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true) // self-contained per run
      val aggs = Seq(("SUM", col("o_orderkey"), "sk"), ("COUNT", lit(1), "n"))
      Incremental.refresh(s, fact.filter(col("dt") <= 199612), mv, "dt",
        Seq("o_orderpriority"), aggs)
      Incremental.refresh(s, fact, mv, "dt", Seq("o_orderpriority"), aggs)
      Incremental.query(s, mv, Seq("o_orderpriority"),
        Seq(("SUM", "sk", "sum_key"), ("SUM", "n", "n_rows")))
    }),
    // ---- training-data pipeline: repetition / PII / sampling / packing ----
    // Gopher-style duplicate n-gram fractions (narrow map, no shuffle)
    "q70_repetition" -> ((s, d) =>
      TextAnalysis.withRepetitionFeatures(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "dup_token_frac", "dup_bigram_frac", "dup_trigram_frac")),
    // PII scrub over a deterministic doc_id-derived contact string (the
    // corpus has no natural PII; synthesis gives the regexes real matches)
    "q71_pii_scrub" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val synth = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com ph 555-"), (lit(1000) + col("doc_id") % 9000).cast("string"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"))
      TextAnalysis.withPiiScrub(docs.select(col("doc_id"), synth.as("text")))
        .select("doc_id", "n_emails", "n_phones", "n_ipv4", "text_redacted")
    }),
    // deterministic stratified down-sampling by content-hash bucket
    // per-domain caps: at most quota(source) docs per source, best-first
    // (n_chars desc), unknown sources capped at the default
    "q124_domain_cap" -> ((s, d) => {
      val spark = s; import spark.implicits._
      val quotas = Seq("src0" -> 5L, "src1" -> 12L, "src2" -> 3L,
        "src3" -> 20L, "src17" -> 7L).toDF("source", "quota")
      Sampling.capPerKey(t(s, d, "documents"), "source",
        Seq(col("n_chars").desc, col("doc_id").asc), quotas, defaultQuota = 10L)
        .select("doc_id", "source", "n_chars")
    }),
    "q72_sample_stratified" -> ((s, d) =>
      Sampling.stratifiedHashSample(t(s, d, "documents"), col("lang"), col("doc_id"),
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.1))
        .select("doc_id", "lang")),
    // importance-weighted selection: accept each doc with probability
    // proportional to its length (the DSIR-weights → subcorpus step)
    "q126_weighted_sample" -> ((s, d) =>
      Sampling.weightedHashSample(t(s, d, "documents"), col("doc_id"),
        least(col("n_chars"), lit(500L)).cast("double") / 500.0)
        .select("doc_id", "n_chars")),
    // training-order export: contiguous pseudorandom positions without a
    // single-task global sort (bucket offsets + in-bucket rank)
    "q127_det_shuffle" -> ((s, d) =>
      Sampling.deterministicShuffle(t(s, d, "documents").select("doc_id"), col("doc_id"))
        .select("doc_id", "pos")),
    // deterministic contrastive negatives: 4 bucket-probed draws per anchor
    "q182_negative_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Sampling.negativeSample(docs.filter(col("doc_id") < 50), docs,
          "doc_id", "doc_id", k = 4)
        .select(col("anchor_id"), col("draw").cast("long").as("draw"),
          col("neg_id"))
    }),
    // CCNet-style paragraph dedup (docs get synthetic paragraph structure:
    // a group-shared intro, their real text, a near-global footer)
    "q128_paragraph_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val synth = concat(
        lit("intro paragraph shared by group "), (col("doc_id") % 50).cast("string"), lit("\n"),
        substring(col("text"), 1, 100), lit("\n"),
        lit("standard footer variant "), (col("doc_id") % 7).cast("string"))
      Dedup.paragraphDedup(docs.select(col("doc_id"), synth.as("text")))
    }),
    // SemDeDup: cluster-bounded semantic dedup — nearest-centroid cells
    // (first 8 vectors as fixed centroids, as q117), in-cell cosine ≥ 0.45
    // drops the larger id
    "q129_semdedup" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Dedup.semDedup(emb, cents, threshold = 0.45)
        .select("vec_id", "centroid_id")
    }),
    // incremental SemDeDup: a batch (vec_id < 100) dedups against the
    // STORED cell index of the rest of the corpus (corpus copy wins),
    // then among itself — the corpus never re-enters a pairwise stage
    "q135_semdedup_batch_index" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      val idx = Dedup.semDedupIndex(emb.filter(col("vec_id") >= 100), cents)
      Dedup.semDedupAgainstIndex(emb.filter(col("vec_id") < 100), idx, cents,
        threshold = 0.45)
        .select("vec_id", "centroid_id")
    }),
    // WET-style markup stripping: wrap each document in synthetic HTML
    // (tags, script/style blocks, comments, entities), then extract text
    "q136_strip_markup" -> ((s, d) => {
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head><body><!-- hdr --><p>"),
        substring(col("text"), 1, 200),
        lit("</p><script>var x = 1 &amp;&amp; 2;</script> &lt;raw&gt; &amp; &quot;q&#39;s&quot;&nbsp;</body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.stripMarkup(html).as("clean"))
        .withColumn("n_clean_chars", length(col("clean")).cast("long"))
    }),
    // script/charset routing profile; salt some docs with CJK / Cyrillic /
    // Arabic runs so every ratio column and the argmax are exercised
    "q137_script_profile" -> ((s, d) => {
      val salted = concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" 漢字測試漢字測試漢字測試漢字測試漢字測試漢字測試漢字測試")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" текст")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" نصوص")).otherwise(lit("")))
      TextAnalysis.withScriptProfile(
        t(s, d, "documents").select(col("doc_id"), salted.as("text")))
        .select("doc_id", "n_chars_total", "latin_ratio", "digit_ratio",
          "cjk_ratio", "cyrillic_ratio", "arabic_ratio", "dominant_script")
    }),
    // DEFLATE repetitiveness signal (rows-only: zlib is not replayable in
    // the oracle; TextDedupSpec pins ordering properties instead)
    "q138_compression_ratio" -> ((s, d) =>
      TextAnalysis.withCompressionRatio(t(s, d, "documents"))
        .select("doc_id", "compression_ratio", "keep_compression")),
    // Gopher-style quality rules: salt docs with bullet lines, ellipsis
    // trailers, and # runs (doc_id mod classes) so every rule fires
    "q141_gopher_quality" -> ((s, d) => {
      val salted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- bullet item\n- second bullet\n* third")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\ntrailing line...\nsecond trailer…")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ## # ###")).otherwise(lit("")))
      TextAnalysis.withGopherRules(
        t(s, d, "documents").select(col("doc_id"), salted.as("text")))
        .select("doc_id", "n_words", "mean_word_len", "alpha_word_ratio",
          "bullet_line_ratio", "ellipsis_line_ratio", "symbol_word_ratio",
          "stop_hits", "keep_gopher")
    }),
    // winnowed (MOSS) fingerprints: per-doc summary grades the exact
    // fingerprint set (count/sum/min/max) without exploding it
    "q139_winnow" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Dedup.winnowSignature(col("text"), n = 4, w = 4).as("__fps"))
        .filter(size(col("__fps")) > 0)
        .select(col("doc_id"),
          size(col("__fps")).cast("long").as("n_fps"),
          aggregate(col("__fps"), lit(0L), (a, x) => a + x).as("fp_sum"),
          array_min(col("__fps")).as("fp_min"),
          array_max(col("__fps")).as("fp_max"))),
    // winnow overlap join: docs of the same (doc_id % 100) group share a
    // planted passage whose every 4-gram contains the group token, so all
    // shared fingerprints stay group-local (no cross-group pair blowup)
    "q140_winnow_overlap" -> ((s, d) => {
      val g = concat(lit("g"), (col("doc_id") % 100).cast("string"))
      val chunk = winnowChunkWords
        .map(wd => concat(lit(" "), g, lit(" " + wd)))
        .reduce((a, b) => concat(a, b))
      val synth = concat(substring(col("text"), 1, 150), chunk)
      Dedup.winnowOverlapJoin(
        t(s, d, "documents").filter(col("doc_id") < 600)
          .select(col("doc_id"), synth.as("text")),
        n = 4, w = 4, minShared = 2)
    }),
    // fair epoch interleave: round-robin across languages in training order
    "q130_epoch_interleave" -> ((s, d) =>
      Sampling.interleaveStrata(t(s, d, "documents").select("doc_id", "lang"),
        col("lang"), col("doc_id"))
        .select("doc_id", "lang", "pos")),
    // KMV distinct sketch: bounded-state mergeable approx count-distinct,
    // deterministic (hence hash-graded, unlike HLL register layouts)
    "q131_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(t(s, d, "orders"), col("o_custkey"),
        Seq(col("o_orderpriority")), k = 64)),
    // deterministic quantile sketch: hash-ordered bottom-k row sample per
    // language, char-length quantiles by nearest-rank on the sample —
    // mergeable and bit-portable, unlike approx_percentile's digest
    "q134_quantile_sketch" -> ((s, d) =>
      Sketches.quantileEstimate(
        Sketches.quantileSketch(t(s, d, "documents"), col("n_chars"),
          col("doc_id"), Seq(col("lang")), k = 64),
        Seq("lang"), Seq(0.5, 0.9, 0.99))),
    // cross-source quantile normalization: per-lang ranks matched onto the
    // global n_chars distribution at 20-quantile resolution
    "q184_quantile_match" -> ((s, d) =>
      Sketches.quantileMatch(t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          "n_chars", "doc_id", Seq("lang"), nQ = 20, k = 64)
        .select("doc_id", "lang", "prank", "matched")),
    // count-min sketch: build over all document tokens, probe with the
    // tokens of the first three documents
    "q132_cms_counts" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      val sketch = Sketches.cmsBuild(toks, col("term"), depth = 4, width = 1024)
      Sketches.cmsQuery(sketch, toks.filter(col("doc_id") < 3), col("term"),
        depth = 4, width = 1024)
    }),
    // bloom membership sketch: deterministic portable bit positions, so
    // the oracle replays the sketch — false positives included; probes =
    // tokens of the first three docs plus a planted absent key
    "q143_bloom_membership" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      val sketch = Sketches.bloomBuild(toks, col("term"), numBits = 1 << 14, hashes = 5)
      val probes = toks.filter(col("doc_id") < 3).select(col("term"))
        .unionByName(s.range(1).select(lit("certainly-absent-token-xyz").as("term")))
      Sketches.bloomQuery(sketch, probes, col("term"), numBits = 1 << 14, hashes = 5)
    }),

    // ---- URL canonicalization / sketch set ops / time series ----------
    // deterministic URL zoo from (source, doc_id): mixed-case scheme and
    // host, www., default + non-default ports, tracking params in every
    // position, a space-bearing path, root-slash and fragment cases
    "q144_url_normalize" -> ((s, d) => {
      val df = t(s, d, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", urlZoo(col("doc_id").cast("string")))
      UrlOps.withUrlParts(
        df.withColumn("url_norm", UrlOps.normalizeUrl(col("url"))), "url_norm")
        .select("doc_id", "url", "url_norm", "host", "domain", "path")
    }),
    // URL-canonical dedup: spelling variants (case/www/:443/tracking/frag)
    // of ~(sources × 97) logical pages; min doc_id survives per canonical
    "q145_url_dedup" -> ((s, d) => {
      val df = t(s, d, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", urlVariants((col("doc_id") % 97).cast("string")))
      UrlOps.dedupByUrl(df, "url", "doc_id").select("doc_id", "source", "url_norm")
    }),
    // theta-style KMV set operations: per-source vocabulary sketches, then
    // union / intersection / Jaccard estimates for every source pair —
    // the cheap corpus-overlap triage that runs before any content join
    "q146_kmv_setops" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      val sk = Sketches.kmvSketch(toks, col("term"), Seq(col("source")), k = 64)
      val pairs = sk.select(col("source").as("source_a"), col("mins").as("mins_a"))
        .join(sk.select(col("source").as("source_b"), col("mins").as("mins_b")),
          col("source_a") < col("source_b"))
      Sketches.kmvSetOps(pairs, "mins_a", "mins_b", k = 64)
    }),
    // time-series densification: hourly grid per user bucket, latest value
    // per bucket, fill-forward across empty buckets
    "q147_gap_fill" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select((col("user_id") % 25).as("ukey"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          col("value"), col("event_id"))
      WindowOps.gapFill(ev, Seq("ukey"), "ts_us", "value",
          step = 3600L * 1000000L, tieBreak = "event_id")
        .select("ukey", "bucket", "observed", "value")
    }),
    // strictly-ordered engagement funnel view → click → purchase: per-user
    // earliest step times (each step after the previous) + depth
    "q150_funnel" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_type"))
      Behavior.funnel(ev, "user_id", "ts_us", Seq(
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"))
    }),
    // same funnel, single-scan form: one keyed collect + frontier fold
    // instead of k event-table scans (the 100 TB shape; q150 is the anchor)
    "q179_funnel_single" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_type"))
      Behavior.funnelSinglePass(ev, "user_id", "ts_us", Seq(
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"))
    }),
    // conversion-window funnel: steps only count within one hour of the
    // first view (single-pass form; the windowed k-join oracle is
    // independent)
    "q185_funnel_windowed" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_type"))
      Behavior.funnelSinglePass(ev, "user_id", "ts_us", Seq(
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"), maxSpan = Some(3600000000L))
    }),
    // seasonal anomalies: events deviating > 2.5 sigma from their
    // (event_type, hour-of-day) baseline — periodic-normal detection
    "q181_seasonal_anomaly" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        floor(col("value") * 1000).cast("long").as("qv"))
      Behavior.seasonalAnomalies(ev, Seq("event_type"), "ts_us", "qv",
        periodUs = 86400000000L, bucketUs = 3600000000L, cutoff = 2.5)
        .select("event_id", "event_type", "phase", "z")
    }),
    // cohort retention matrix: first-event-day cohorts × active-day offsets
    "q151_retention" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      Behavior.retention(ev, "user_id", "ts_us")
    }),
    // k-core of a block-circulant graph whose NODE SPACE GROWS WITH THE
    // DATA (node = doc_id div 8, offsets 1..8 — ~N/8 nodes, degree ≤16;
    // the old %37/%41 fixture had a cardinality-fixed key space, so scale
    // sweeps over it were degenerate). k=10 erodes a boundary layer every
    // round for the full 8 rounds at every sf, with a non-empty core.
    "q159_kcore" -> ((s, d) => {
      val edges = t(s, d, "documents")
        .select(expr("doc_id div 8").as("a"),
          expr("doc_id div 8 + 1 + doc_id % 8").as("b"))
      Matrix.kCore(edges, k = 10, maxIter = 8)
    }),
    // Flesch reading-ease over documents (punctuation salted so the
    // sentence splitter sees variety)
    "q160_readability" -> ((s, d) => {
      val salted = concat(col("text"),
        when(col("doc_id") % 2 === 0, lit(". Extra sentence! And another?"))
          .otherwise(lit("")))
      TextAnalysis.withReadability(
        t(s, d, "documents").select(col("doc_id"), salted.as("text")))
        .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch")
    }),
    // interval-concurrency sweep: events as (start, start + value minutes)
    "q161_concurrency" -> ((s, d) => {
      val us = expr("unix_micros(cast(ts as timestamp))")
      val iv = t(s, d, "events").select(us.as("st"),
        (us + floor(col("value") * lit(6.0e7)).cast("long")).as("en"))
      Behavior.concurrency(iv, "st", "en")
    }),
    // Kaplan-Meier churn curves per cohort over censored user lifetimes
    "q191_kaplan_meier" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("t"))
      val subjects = ev.groupBy("user_id")
        .agg(max(col("t")).as("__mx"), min(col("t")).as("__mn"))
        .withColumn("dur", expr("(__mx - __mn) div 86400000000"))
        .withColumn("ev", (col("user_id") % 3 =!= 0).cast("long"))
        .withColumn("cohort", col("user_id") % 5)
      Behavior.kaplanMeier(subjects, Seq("cohort"), "dur", "ev")
    }),
    // SCD2 point-in-time join: each purchase picks the click-version of
    // its user valid at purchase time (validity = [click, next click))
    "q190_scd_join" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("t"), col("event_type"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("fact_id"), col("t").as("ts_us"))
      val vw = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("valid_from"), col("version_id"))
      val dim = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t").as("valid_from"),
          col("event_id").as("version_id"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(vw))
      Joins.scdJoin(facts, dim, Seq("user_id"), "ts_us",
          "valid_from", "valid_to", how = "left_outer")
        .select("user_id", "fact_id", "ts_us", "version_id")
    }),
    // sorted-neighborhood blocking: candidate pairs within 3 positions of
    // the (lang, n_chars) global order — ER candidates at linear cost
    "q189_sorted_neighborhood" -> ((s, d) =>
      Joins.sortedNeighborhood(t(s, d, "documents"), "doc_id",
        col("lang"), col("n_chars"), window = 3)),
    // per-type CUSUM drift: where does each metric's mean shift?
    "q188_cusum_drift" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        floor(col("value") * lit(1000)).cast("long").as("qv"))
      Behavior.cusumDrift(ev, Seq("event_type"), "ts_us", "qv", "event_id")
    }),
    // time-weighted average gauge per type over the synthesized intervals
    "q183_time_weighted_avg" -> ((s, d) => {
      val us = expr("unix_micros(cast(ts as timestamp))")
      val iv = t(s, d, "events").select(col("event_type"), us.as("st"),
        (us + floor(col("value") * lit(6.0e7)).cast("long")).as("en"),
        floor(col("value") * lit(1000)).cast("long").as("qv"))
      Behavior.timeWeightedAvg(iv, Seq("event_type"), "st", "en", "qv")
    }),
    // per-type concurrency: independent sweeps per event_type
    "q175_concurrency_by" -> ((s, d) => {
      val us = expr("unix_micros(cast(ts as timestamp))")
      val iv = t(s, d, "events").select(col("event_type"), us.as("st"),
        (us + floor(col("value") * lit(6.0e7)).cast("long")).as("en"))
      Behavior.concurrency(iv, "st", "en", groupCols = Seq("event_type"))
    }),
    // Pareto frontier of parts: max retail price, min size
    "q162_skyline" -> ((s, d) =>
      Relational.skyline(
        t(s, d, "part").select("p_partkey", "p_size", "p_retailprice"),
        maxCols = Seq("p_retailprice"), minCols = Seq("p_size"))),
    // three-dimensional skyline (two max dims, one min)
    "q178_skyline3" -> ((s, d) =>
      Relational.skyline(
        t(s, d, "part").select(col("p_partkey"), col("p_size"),
          col("p_retailprice"), (col("p_partkey") % 97).as("p_bucket")),
        maxCols = Seq("p_retailprice", "p_bucket"), minCols = Seq("p_size"))),
    // sketch-only join-size estimate for orders ⋈ customer on custkey
    "q163_cms_join_size" -> ((s, d) => Sketches.cmsJoinSize(
      Sketches.cmsBuild(t(s, d, "orders"), col("o_custkey")),
      Sketches.cmsBuild(t(s, d, "customer"), col("c_custkey")))),
    // hashing-trick sparse feature vectors over document tokens
    "q164_feature_hash" -> ((s, d) =>
      TextAnalysis.featureHash(t(s, d, "documents"), dim = 256)),
    // bloom-filtered parquet roundtrip: point predicate over the
    // bloom-indexed key, aggregate read-back (the q107 shape)
    "q168_bloom_store" -> ((s, d) => {
      val out = s"/tmp/graft-bloom/${java.lang.Integer.toHexString(d.hashCode)}"
      graft.sources.Layout.storeWithBloom(
        t(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity"),
        out, bloomCols = Seq("l_suppkey"), ndv = 10000)
      s.read.parquet(out).filter(col("l_suppkey") === 7)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    // per-type metric trend lines (exact integer moments)
    "q174_linear_trend" -> ((s, d) =>
      Aggregations.linearTrend(
        t(s, d, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 1000000").as("x"),
          col("value")),
        Seq("event_type"), "x", "value")),
    // recency-weighted mean metric per type (exact dyadic EWM)
    "q176_decayed_stats" -> ((s, d) =>
      WindowOps.decayedStats(
        t(s, d, "events").select(col("event_type"), col("value"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us")),
        Seq("event_type"), "ts_us", "value",
        nowTs = 1709251200000000L, halfLife = 86400000000L)),
    // recency-weighted engagement: exact dyadic 1-day-half-life decay
    "q171_decayed_counts" -> ((s, d) =>
      WindowOps.decayedCounts(
        t(s, d, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us")),
        Seq("event_type"), "ts_us",
        nowTs = 1709251200000000L, halfLife = 86400000000L)),
    // linear multi-touch attribution: purchases credit view/click
    // touches within a 30-minute lookback
    "q170_attribution" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      Behavior.attribution(
        ev.filter(col("event_type").isin("view", "click")),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "event_id", "ts_us", "event_id", "ts_us",
        lookback = 1800000000L, model = "linear")
    }),
    // U-shaped position attribution over the same touch stream
    "q177_attribution_position" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      Behavior.attribution(
        ev.filter(col("event_type").isin("view", "click")),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "event_id", "ts_us", "event_id", "ts_us",
        lookback = 1800000000L, model = "position")
    }),
    // CDC snapshot diff between two derived versions of orders
    "q169_snapshot_diff" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val prev = base.filter(col("o_orderkey") % 7 =!= 0)
      val next = base.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")))
      Incremental.snapshotDiff(prev, next, Seq("o_orderkey"))
    }),
    // chi-square independence: market segment vs nation bucket
    "q167_chi_square" -> ((s, d) =>
      Behavior.chiSquare(t(s, d, "customer")
        .select(col("c_mktsegment"), (col("c_nationkey") % 5).as("ngrp")),
        "c_mktsegment", "ngrp")),
    // per-stratum percent rank: value normalized within each event type
    "q172_percent_rank_by" -> ((s, d) =>
      Sampling.percentRank(
        t(s, d, "events").select("event_id", "event_type", "value"),
        "value", groupCols = Seq("event_type"))
        .select("event_id", "event_type", "value", "prank")),
    // global percent-rank normalization of event values (tie-sharing)
    "q166_percent_rank" -> ((s, d) =>
      Sampling.percentRank(t(s, d, "events").select("event_id", "value"), "value")
        .select("event_id", "value", "prank")),
    // TF-IDF weights over the hashed feature space
    "q173_feature_hash_tfidf" -> ((s, d) =>
      TextAnalysis.featureHashTfidf(t(s, d, "documents"), dim = 256)),
    // MAD robust outliers per event type (sketch-driven median + MAD)
    "q165_mad_outliers" -> ((s, d) =>
      Sketches.madOutliers(
        t(s, d, "events").select("event_id", "event_type", "value"),
        "value", col("event_id"), Seq("event_type"))
        .select("event_id", "event_type", "value", "med", "mad", "is_outlier")),
    // pairwise association rules over order→part-bucket baskets
    "q158_assoc_rules" -> ((s, d) => {
      val baskets = t(s, d, "lineitem")
        .select(col("l_orderkey").as("basket"), (col("l_partkey") % 50).as("item"))
      Behavior.associationRules(baskets, "basket", "item", minPairCount = 5L)
    }),
    // native avro-core roundtrip on the correctness gate: store a slice as
    // Avro container files, read it back, aggregate — the oracle computes
    // the same aggregate from the parquet source, so any roundtrip loss
    // hash-mismatches
    "q157_avro_roundtrip" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-avro-q157").toString + "/t"
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
        .filter(col("l_orderkey") % 50 === 0)
      graft.sources.Sources.store(li, dir, "avro")
      graft.sources.Sources.load(s, dir, "avro").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum("l_partkey").as("sum_pk"))
    }),
    // single-pass Pearson correlation matrix over quantized lineitem
    // numerics (portable: exact integer moments + exactly-rounded doubles)
    "q156_corr_matrix" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        floor(col("l_quantity")).cast("long").as("qty"),
        floor(col("l_extendedprice")).cast("long").as("price"),
        floor(col("l_discount") * 100).cast("long").as("disc"),
        floor(col("l_tax") * 100).cast("long").as("tax"))
      Aggregations.corrMatrix(li, Seq("qty", "price", "disc", "tax"))
    }),
    // equi-depth feature binning from the deterministic quantile sketch
    "q154_quantile_bins" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      Sketches.quantileBins(ev, "value", col("event_id"), Seq("event_type"),
          nBins = 4, k = 128)
        .select("event_id", "event_type", "value", "bin")
    }),
    // exact triangle count via degree-ordered orientation (oracle = the
    // independent u<v<w 3-join) on a block-circulant graph whose node
    // space grows with the data (node = doc_id div 8, offsets 1..8 →
    // ~28 triangles per interior node, count linear in rows; the old
    // %200 fixture had a cardinality-fixed key space and collapsed
    // under distinct() at scale)
    "q155_triangles" -> ((s, d) => {
      val edges = t(s, d, "documents")
        .select(expr("doc_id div 8").as("a"),
          expr("doc_id div 8 + 1 + doc_id % 8").as("b"))
      Matrix.triangleCount(edges)
    }),
    // Welch z between every variant pair over the quantized metric
    "q152_ab_test" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_type"), floor(col("value") * 1000).cast("long").as("qv"))
      Behavior.abTest(ev, "event_type", "qv")
    }),
    // first-order event-type transition matrix with per-source probabilities
    "q153_transitions" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          col("event_type"), col("event_id"))
      Behavior.transitions(ev, "user_id", "ts_us", "event_type", "event_id")
    }),
    // rolling anomaly detection on the densified series: gap fill →
    // integer-quantized trailing-24 stats → z-score flags (exact frame
    // sums + exactly-rounded double math + IEEE sqrt = oracle-replayable)
    "q149_rolling_anomaly" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select((col("user_id") % 25).as("ukey"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          col("value"), col("event_id"))
      val filled = WindowOps.gapFill(ev, Seq("ukey"), "ts_us", "value",
          step = 3600L * 1000000L, tieBreak = "event_id")
        .withColumn("qv", floor(col("value") * 1000).cast("long"))
      WindowOps.rollingStats(filled, Seq("ukey"), "bucket", "qv",
          window = 24, zThreshold = 2.5)
        .select("ukey", "bucket", "qv", "roll_n", "roll_mean", "roll_var",
          "zscore", "is_anomaly")
    }),
    // sketch-driven winsorization: clip event values into per-type
    // [p5, p95] bounds from the deterministic quantile sketch
    "q148_winsorize" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"))
      Sketches.winsorize(ev, "value", col("event_id"), Seq("event_type"),
          lo = 0.05, hi = 0.95, k = 128)
        .select("event_id", "event_type", "value", "lo_bound", "hi_bound",
          "value_clipped")
    }),

    // fixed-size per-stratum sample (deterministic reservoir analog)
    "q73_sample_reservoir" -> ((s, d) =>
      Sampling.reservoirPerKey(t(s, d, "documents").select("doc_id", "lang"),
        col("lang"), col("doc_id"), n = 20)),
    // greedy sequence packing into 200-token context windows per language
    "q74_pack_sequences" -> ((s, d) =>
      Packing.packGreedy(
        t(s, d, "documents").select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "lang", "doc_id", "n_tokens", capacity = 200)),
    // mixture-weighted corpus assembly: allocate a global token budget
    // proportionally to each language's share
    "q75_mixture_plan" -> ((s, d) =>
      Sampling.mixturePlan(
        t(s, d, "documents").select(col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        col("lang"), col("n_tokens"), budget = 20000L)),

    // sparse matrix multiply as join+aggregate — the reference's "graph
    // computation" pattern (README §Graph); part co-occurrence counts over
    // a deterministic part slice, C = A×Aᵀ with i<j
    "q76_spmm" -> ((s, d) => {
      val a = t(s, d, "lineitem").filter(col("l_partkey") % 20 === 0)
        .select(col("l_partkey").as("i"), col("l_orderkey").as("k"), lit(1L).as("v"))
      Matrix.spMM(a, Matrix.transpose(a)).filter(col("i") < col("j"))
    }),
    // fixed-width histogram over order totals (distribution profiling)
    "q77_histogram" -> ((s, d) =>
      Aggregations.histogram(t(s, d, "orders"), col("o_totalprice"),
        lo = 0.0, width = 25000.0)),
    // passage-level duplication: fraction of each doc's 8-gram shingles
    // that recur in other documents (substring-dedup signal)
    "q78_passage_dup" -> ((s, d) =>
      Dedup.crossDocShingleStats(t(s, d, "documents"), n = 8)),
    // canonical normalization for dedup keys (case/punctuation-robust)
    "q79_normalize" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("norm_text", TextAnalysis.normalize(col("text")))
        .select(col("doc_id"), col("norm_text"), md5(col("norm_text")).as("norm_fp"))),
    // C4-style blocklist screening by token membership
    "q80_blocklist" -> ((s, d) =>
      TextAnalysis.withBlocklistFlag(t(s, d, "documents"),
        Seq("slow", "big", "the"))
        .select("doc_id", "n_blocked", "keep_clean")),
    // benchmark decontamination: flag training docs sharing any 8-gram
    // shingle with the eval split (doc_id % 10 = 0 plays the benchmark)
    "q81_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), n = 8)
    }),
    // BPE vocabulary induction statistic: adjacent token-pair counts
    "q82_vocab_pairs" -> ((s, d) =>
      TextAnalysis.pairCounts(t(s, d, "documents"), minCount = 2L)),

    // mixture materialization: the deterministic per-stratum take that
    // executes q75's token-budget plan
    "q90_mixture_take" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val plan = Sampling.mixturePlan(docs, col("lang"), col("n_tokens"),
        budget = 20000L)
      Sampling.mixtureTake(docs, col("lang"), col("n_tokens"), col("doc_id"),
        plan.select("stratum", "alloc_tokens"))
        .select("doc_id", "lang")
    }),
    // exact duplicated-passage spans (substring dedup signal): which token
    // ranges of each document repeat >= 2 times corpus-wide
    "q93_duplicate_spans" -> ((s, d) =>
      Dedup.duplicateSpans(t(s, d, "documents"), n = 8, minCount = 2L)),
    // ...and the transform that APPLIES those spans: exact substring dedup
    // end-to-end — detect corpus-hot ranges, cut exactly those tokens
    "q120_cut_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.cutSpans(docs, Dedup.duplicateSpans(docs, n = 8, minCount = 2L))
    }),

    // BPE tokenizer training: one distributed word-count shuffle, then a
    // driver-side merge loop over the vocab-bounded dictionary. Iterative —
    // no SQL oracle; deterministic output covered by BpeKmeansSpec.
    "q91_bpe_learn" -> ((s, d) => {
      import s.implicits._
      graft.text.Bpe.learn(t(s, d, "documents"), numMerges = 50, minWordCount = 2L)
        .zipWithIndex.map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "left", "right")
    }),
    // BPE TRAINING hash anchor: a 6-merge model learned from the real
    // corpus word counts, replayed merge-for-merge by an unrolled DuckDB
    // oracle (segmentations as chr(31)-wrapped strings, argmax per round)
    // — training itself is hash-verified; q91 keeps the 50-merge
    // production shape rows-only
    // k-means TRAINING hash anchor: the bit-portable integer variant
    // (quantized coords, integer argmin, floor-division means) replayed
    // over 2 unrolled oracle rounds — the float kmeansFit (q94) stays
    // rows-only because double averages are summation-order-sensitive
    "q207_kmeans_portable" -> ((s, d) =>
      Similarity.kmeansFitPortable(t(s, d, "embeddings"), k = 4, iters = 2)
        .select(col("centroid_id"), posexplode(col("cvec")).as(Seq("pos", "v")))
        .select(col("centroid_id"), col("pos").cast("long").as("pos"), col("v"))),
    "q206_bpe_learn_exact" -> ((s, d) => {
      import s.implicits._
      graft.text.Bpe.learn(t(s, d, "documents"), numMerges = 6, minWordCount = 2L)
        .zipWithIndex.map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "left", "right")
    }),
    // Data-selection family, both hash-exact end to end: k-center greedy
    // (farthest-first coreset — 8 unrolled oracle rounds replay the whole
    // traversal) and MMR diversity re-rank (query = the lowest-id
    // embedding; all-integer lambda·rel − (1−lambda)·maxsim scores)
    "q208_kcenter_greedy" -> ((s, d) =>
      Similarity.kCenterGreedyPortable(t(s, d, "embeddings"), k = 8)),
    "q209_mmr_select" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qv = emb.orderBy("vec_id").limit(1).select("embedding")
        .collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.mmrSelectPortable(emb, qv, k = 8, lambdaPct = 70)
    }),
    // BPE apply: segment the corpus under the FIXED rank-consistent merge
    // table so the exact subword counts are SQL-oracle-checkable (the
    // learned-merge composition stays covered by q91 + BpeKmeansSpec's
    // learn→segment round-trip)
    "q92_bpe_segment" -> ((s, d) =>
      graft.text.Bpe.segment(t(s, d, "documents"), graft.text.Bpe.demoMerges)
        .select(col("doc_id"), size(col("subwords")).cast("long").as("n_subwords"))),
    // trained-IVF ANN: k-means coarse quantizer (deterministic) + cell search
    // exact anchor for the IVF/k-means assignment step: with FIXED
    // centroids (the first 8 vectors) the nearest-centroid argmin is
    // deterministic portable arithmetic, so the DuckDB oracle reproduces
    // it bit-for-bit — the iterative q94 stays rows-only, but its inner
    // assignment kernel is hash-graded here
    "q117_ivf_assign" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Similarity.ivfAssign(emb, cents).select("vec_id", "centroid_id")
    }),

    "q94_kmeans_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.kmeansFit(emb, k = 8, iters = 3)
        .select(col("centroid_id"), col("cvec").cast("array<float>").as("cvec"))
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), cents, k = 5)
        .select("query_id", "neighbor_id", "rank")
    }),

    // passage chunking: overlapping token windows for context-window prep
    "q86_chunk" -> ((s, d) =>
      TextAnalysis.chunk(t(s, d, "documents"), chunkTokens = 20, overlap = 5)),
    // cross-corpus near-dup screen: fresh-crawl side (doc_id%5=0) vs
    // existing-corpus side (doc_id%5=1)
    "q87_crosscorpus_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossCorpusJaccard(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 === 1), n = 2, threshold = 0.05)
    }),
    // prefix-filtered cross-corpus screen at a production threshold: same
    // answer as the plain cross equi-join, but pair generation touches
    // only each doc's (1-t)|S|+1 smallest shingles under the shared
    // union-df order — the 100 TB form of "is this new doc a near-dup of
    // anything we already have"
    "q196_crosscorpus_prefix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.crossCorpusJaccardPrefix(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 === 1), n = 2, threshold = 0.8)
    }),
    // deterministic synchronous label propagation over the same graph —
    // integer argmax with min-label ties, 4 unrolled oracle rounds
    "q201_label_prop" -> ((s, d) =>
      Matrix.labelPropagation(custSuppGraph(s, d), iters = 4)),
    // classifier calibration: reliability bins + exact-integer ECE mass
    // over a transcendental-free score (fixture margin through the
    // rational squash 1/2 + m/(2(1+|m|))) — every column replays exactly
    "q200_calibration" -> ((s, d) => {
      val (w, b) = graft.similarity.Classifier.fixtureSoftmaxModel(dim = 64, nClasses = 1)
      val scored = graft.similarity.Classifier
        .linearScore(t(s, d, "embeddings"), w(0), b(0))
        .withColumn("score",
          lit(0.5) + col("margin") / (lit(2.0) * (lit(1.0) + abs(col("margin")))))
      graft.similarity.Classifier.calibration(scored,
        col("score"), (col("label") < 5).cast("int"), nBins = 10)
    }),
    // PageRank over the customer↔supplier bipartite graph, in EXACT
    // integer arithmetic (nano-mass units, integer divisions, rational
    // damping) — hash-checked against 5 unrolled oracle iterations; the
    // float pageRank stays spec-anchored (MatrixSpec closed forms)
    "q199_pagerank" -> ((s, d) =>
      Matrix.pageRankPortable(custSuppGraph(s, d), iters = 5)),
    // retrieval-quality eval (recall@k / MRR / nDCG@k) over a synthetic
    // run+qrels pair derived arithmetically from lineitem — the discount
    // table is integral (Search.ndcgDiscounts) so nDCG replays exactly
    "q197_retrieval_metrics" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("__sk"), col("doc_id"))
      val pairs = t(s, d, "lineitem")
        .select((col("l_suppkey") % 20).cast("long").as("query_id"),
          (col("l_partkey") % 200).cast("long").as("doc_id"), col("l_orderkey"))
        .groupBy("query_id", "doc_id").agg(min("l_orderkey").as("__sk"))
      val runs = pairs.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10).select("query_id", "doc_id", "rank")
      val qrels = pairs.filter(col("doc_id") % 7 === col("query_id") % 7)
        .select(col("query_id"), col("doc_id"),
          (lit(1) + col("doc_id") % 3).cast("int").as("rel"))
      graft.text.Search.retrievalMetrics(runs, qrels, k = 10)
    }),
    // distribution drift screen: click events' value distribution vs the
    // rest, bucketed; tv_num is exact integer total-variation mass (the
    // psi_term float stays user-facing, not graded — NgramLm posture)
    "q198_drift" -> ((s, d) => {
      val ev = t(s, d, "events")
      Aggregations.distributionDrift(
        ev.filter(col("event_type") =!= "click"),
        ev.filter(col("event_type") === "click"),
        pmod(floor(col("value") * 10), lit(20L)))
        .select("bucket", "n_base", "n_cur", "p_base", "p_cur",
          "tv_num", "total_base", "total_cur")
    }),
    // exact corpus-wide heavy hitters over tokens
    "q88_heavy_hitters" -> ((s, d) =>
      Aggregations.heavyHitters(
        t(s, d, "documents").select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        col("tok"), minShare = 0.005)),
    // deterministic content-hash train/val/test split
    "q89_hash_split" -> ((s, d) =>
      Sampling.hashSplit(t(s, d, "documents"), col("doc_id"),
        weights = Seq(0.8, 0.1, 0.1), labels = Seq("train", "val", "test"))
        .select("doc_id", "split")),
    // Benford first-digit screen over price cents: observed vs the
    // log10(1+1/d) law with the expected table injected as driver-side
    // integer constants — no engine-rounded transcendental anywhere
    "q204_benford" -> ((s, d) =>
      Aggregations.benford(t(s, d, "lineitem"),
        floor(col("l_extendedprice") * 100).cast("long"))),
    // dictionary refresh-append stability across THREE batches: growing
    // customer prefixes with a mid-cardinality derived value, so each
    // refresh re-sees existing values (their codes must stay bit-stable)
    // AND appends genuinely new ones after the running max — the oracle
    // replays create/refresh/refresh as anti-join + offset row_number
    "q205_dict_refresh" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        concat(col("c_mktsegment"), lit("_"),
          (col("c_custkey") % 40).cast("string")).as("v"))
      val d1 = Dictionary.create(cust.filter(col("c_custkey") <= 50), "v")
      val d2 = Dictionary.refresh(d1, cust.filter(col("c_custkey") <= 100), "v")
      val d3 = Dictionary.refresh(d2, cust, "v")
      d3.select(col("colvalue"), col("code").cast("long").as("code"))
    }),
    // difference-in-differences: even users "treated", Jan 16 the policy
    // boundary, qv the cents-quantized metric — 4 exact cells + the did
    // estimate, every division exactly rounded
    "q203_did" -> ((s, d) =>
      graft.operators.Behavior.diffInDiff(
        t(s, d, "events")
          .withColumn("qv", floor(col("value") * 100).cast("long")),
        col("user_id") % 2 === 0,
        unix_micros(col("ts").cast("timestamp")) >= lit(1705363200000000L),
        col("qv"))),
    // split-integrity screen: splitting events by event_id while users
    // are the leakage unit MUST flag the users whose rows span splits —
    // the check that catches per-row splits of grouped data
    "q202_split_leakage" -> ((s, d) =>
      Sampling.splitLeakage(
        Sampling.hashSplit(t(s, d, "events"), col("event_id"),
          weights = Seq(0.8, 0.1, 0.1), labels = Seq("train", "val", "test")),
        col("user_id"), col("split"))),

    // ---- time joins (asof / range / bloom) -----------------------------
    // point-in-time lookup: each purchase joined to the user's latest
    // click at-or-before it (exact microsecond longs, as in q59)
    "q83_join_asof" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("click_ts_us"),
          col("event_id").as("click_event_id"))
      Joins.asofJoin(purchases, clicks, Seq("user_id"), "ts_us", "click_ts_us",
        how = "left_outer")
    }),
    // band join: every click within the hour before each purchase
    "q84_join_range" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("click_ts_us"),
          col("event_id").as("click_event_id"))
      Joins.rangeJoin(purchases, clicks, Seq("user_id"), "ts_us", "click_ts_us",
        lower = 0L, upper = 3600L * 1000000L)
    }),
    // bloom-pruned fact-to-dim join: lineitem rows are semi-filtered by a
    // bloom over the surviving order keys before the shuffle join
    "q85_join_bloom" -> ((s, d) => {
      val keep = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Joins.bloomPrunedJoin(t(s, d, "lineitem"), keep, Seq("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
    }),

    // incremental COUNT DISTINCT via member-level summaries — the
    // reference's flagship incremental computation (CountDistinctRewriter):
    // members recurring across months must count once
    "q67_incremental_distinct" -> ((s, d) => {
      val fact = t(s, d, "orders").select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int").as("dt"),
        col("o_orderpriority"), col("o_custkey"))
      val mv = s"/tmp/graft-mv-q67/${java.lang.Integer.toHexString(d.hashCode)}"
      val p = new org.apache.hadoop.fs.Path(mv)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Incremental.refreshDistinct(s, fact.filter(col("dt") <= 199612), mv, "dt",
        Seq("o_orderpriority"), "o_custkey")
      Incremental.refreshDistinct(s, fact, mv, "dt", Seq("o_orderpriority"), "o_custkey")
      Incremental.queryDistinct(s, mv, Seq("o_orderpriority"), "o_custkey", "nd_cust")
    }),

    // ---- §2.6 set operators (absent from the reference grammar; free) ----
    // customers ordering in both 1995 and 1996 / in 1995 but not 1996
    "q95_intersect" -> ((s, d) => {
      val ord = t(s, d, "orders")
      Relational.intersect(
        ord.filter(year(col("o_orderdate")) === 1995).select("o_custkey"),
        ord.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
    }),
    "q96_except" -> ((s, d) => {
      val ord = t(s, d, "orders")
      Relational.except(
        ord.filter(year(col("o_orderdate")) === 1995).select("o_custkey"),
        ord.filter(year(col("o_orderdate")) === 1996).select("o_custkey"))
    }),

    // ---- training-data pipeline: incremental novelty / containment /
    // ---- salient terms / temperature mixture -----------------------------
    // per-crawl novelty screen: batch (doc_id%5=0) minus docs whose token
    // fingerprint already exists in the corpus (rest); bloom-pruned exact
    "q97_novelty" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.noveltyFilter(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        expectedBatchDocs = 100000L)
    }),
    // temperature-flattened mixture allocation (τ=2 up-weights small langs)
    "q98_mixture_temperature" -> ((s, d) =>
      Sampling.mixturePlanTemperature(t(s, d, "documents"), col("lang"),
        TextAnalysis.tokenCount(col("text")), budget = 100000L, tau = 2.0)),
    // TF-IDF-style top-5 salient terms per document (tf/df ratio score)
    "q99_tfidf" -> ((s, d) =>
      TextAnalysis.topTerms(t(s, d, "documents"), k = 5)),
    // overlap-coefficient containment: catches short-inside-long duplicates
    // symmetric Jaccard misses; all-pairs bounded by the 1-in-5 sample
    "q100_containment" -> ((s, d) =>
      Dedup.overlapCandidates(t(s, d, "documents").filter(col("doc_id") % 5 === 0),
        n = 2, threshold = 0.25)),

    // ---- round 4: fuzzy join / skew-proof distinct / profiling / HLL MV ---
    // exact edit-distance self-join (record linkage on the 16-char text
    // prefix): FastSS deletion-variant blocking + levenshtein verify —
    // identical to the quadratic cross-join filter the oracle runs, without
    // ever forming the cross product; 1-in-3 sample bounds the ORACLE's
    // quadratic check, not the operator
    "q101_edit_join" -> ((s, d) =>
      Joins.editDistanceJoin(t(s, d, "documents").filter(col("doc_id") % 3 === 0),
        k = 2, key = substring(col("text"), 1, 16))),
    // exact COUNT DISTINCT pinned to the skew-proof two-level plan — same
    // answer as count_distinct, hot keys spread over all reducers
    "q102_distinct_skewproof" -> ((s, d) =>
      Aggregations.countDistinctSkewProof(t(s, d, "events"),
        Seq("event_type"), col("user_id"))),
    // single-pass column profiler (per-ingest-batch data-quality gate)
    "q103_profile" -> ((s, d) =>
      Aggregations.profile(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus"))),
    // sketch-based incremental COUNT DISTINCT MV: per-(month, priority) HLL
    // sketches, unioned across months at query time. Estimates are
    // DataSketches-specific → rows-only here; IncrementalSpec checks the
    // estimates against exact counts within HLL error bounds
    "q104_hll_mv" -> ((s, d) => {
      val fact = t(s, d, "orders").select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int").as("dt"),
        col("o_orderpriority"), col("o_custkey"))
      val mv = s"/tmp/graft-mv-q104/${java.lang.Integer.toHexString(d.hashCode)}"
      val p = new org.apache.hadoop.fs.Path(mv)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Incremental.refreshDistinctSketch(s, fact.filter(col("dt") <= 199612), mv, "dt",
        Seq("o_orderpriority"), "o_custkey")
      Incremental.refreshDistinctSketch(s, fact, mv, "dt", Seq("o_orderpriority"), "o_custkey")
      Incremental.queryDistinctSketch(s, mv, Seq("o_orderpriority"), "nd_cust_approx")
    }),
    // the bit-portable successor of q104: same two-step incremental MV
    // refresh, but the per-(date, key) sketch is KMV (bottom-k hashes) —
    // merge-then-estimate replays exactly in DuckDB, so unlike the HLL
    // path this one is hash-graded against the DIRECT kmv formulation
    // (the KMV semilattice makes incremental == direct an identity)
    "q195_kmv_mv" -> ((s, d) => {
      val fact = t(s, d, "orders").select(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int").as("dt"),
        col("o_orderpriority"), col("o_custkey"))
      val mv = s"/tmp/graft-mv-q195/${java.lang.Integer.toHexString(d.hashCode)}"
      val p = new org.apache.hadoop.fs.Path(mv)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Incremental.refreshDistinctKmv(s, fact.filter(col("dt") <= 199612), mv, "dt",
        Seq("o_orderpriority"), "o_custkey")
      Incremental.refreshDistinctKmv(s, fact, mv, "dt",
        Seq("o_orderpriority"), "o_custkey")
      Incremental.queryDistinctKmv(s, mv, Seq("o_orderpriority"))
    }),
    // z-order-clustered rewrite, then a selective read-back: the aggregate
    // proves the layout job preserves the data exactly; LayoutSpec asserts
    // the per-file min/max ranges actually narrowed (the skipping payoff)
    "q105_zorder" -> ((s, d) => {
      val out = s"/tmp/graft-zorder/${java.lang.Integer.toHexString(d.hashCode)}"
      graft.sources.Layout.zorderWrite(t(s, d, "lineitem"), out,
        Seq("l_partkey", "l_suppkey"), numFiles = 8)
      s.read.parquet(out).filter(col("l_partkey") <= 100)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    // small-file compaction roundtrip: scatter events into many small
    // files, compact to ~1 MB targets, aggregate the read-back
    "q106_compact" -> ((s, d) => {
      val base = s"/tmp/graft-compact/${java.lang.Integer.toHexString(d.hashCode)}"
      t(s, d, "events").repartition(40).write.mode("overwrite").parquet(s"$base/in")
      graft.sources.Layout.compact(s, s"$base/in", s"$base/out",
        targetFileBytes = 1L * 1024 * 1024)
      s.read.parquet(s"$base/out").groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum("user_id").as("sum_users"))
    }),
    // hive-style partitioned write + pruned read-back: the filter on the
    // partition column must resolve to directory pruning (PlanAuditSpec
    // asserts PartitionFilters); the aggregate proves data fidelity
    // partition-pruned copy-on-write MERGE: double the price of every
    // 10th order (updates), insert offset clones of every 97th (inserts),
    // then aggregate the final table state for the oracle compare
    "q180_upsert" -> ((s, d) => {
      val out = s"/tmp/graft-upsert/${java.lang.Integer.toHexString(d.hashCode)}"
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      graft.sources.Sources.store(orders, out, "parquet",
        partitionBy = Seq("o_orderpriority"))
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(orders.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      Incremental.upsert(s, out, updates, Seq("o_orderkey"), "o_orderpriority")
      s.read.parquet(out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_custkey").cast("long").as("sum_cust"),
          sum(floor(col("o_totalprice") * 100)).cast("long").as("cents"))
    }),
    // CDC MERGE with deletes: a Debezium-shaped I/U/D feed applies in one
    // pass — every 10th order updated, every 13th deleted (seq ordering
    // makes D beat a same-key U in-batch), every 97th cloned as an insert
    "q192_cdc_upsert" -> ((s, d) => {
      val out = s"/tmp/graft-cdc/${java.lang.Integer.toHexString(d.hashCode)}"
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      graft.sources.Sources.store(orders, out, "parquet",
        partitionBy = Seq("o_orderpriority"))
      val cdc = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
        .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("op", lit("D")).withColumn("seq", lit(2L)))
        .unionByName(orders.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("op", lit("I")).withColumn("seq", lit(1L)))
      Incremental.upsert(s, out, cdc, Seq("o_orderkey"), "o_orderpriority",
        opCol = Some("op"), seqCol = Some("seq"))
      s.read.parquet(out)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_custkey").cast("long").as("sum_cust"),
          sum(floor(col("o_totalprice") * 100)).cast("long").as("cents"))
    }),
    // native rubix block-file round-trip (DEFAULT = Pig BinInterSedes
    // tuples): write lineitem as a real .rubix dataset partitioned on
    // returnflag, decode it back through the LOAD USING RUBIX path, and
    // aggregate — the oracle recomputes from the source table, so any
    // encode/decode corruption breaks the hash
    "q193_rubix_roundtrip" -> ((s, d) => {
      val out = s"/tmp/graft-rubix/${java.lang.Integer.toHexString(d.hashCode)}"
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      graft.sources.Rubix.write(li, out,
        partitionKeys = Seq("l_returnflag"), sortKeys = Seq("l_orderkey"))
      graft.sources.Sources.load(s, out, "rubix")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_orderkey").cast("long").as("sum_ok"),
          sum(floor(col("l_quantity") * 100)).cast("long").as("qty_cents"),
          sum(floor(col("l_extendedprice") * 100)).cast("long").as("price_cents"))
    }),
    // same gate through the COMPACT (variable-length) block serialization
    "q194_rubix_compact" -> ((s, d) => {
      val out = s"/tmp/graft-rubix-c/${java.lang.Integer.toHexString(d.hashCode)}"
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      graft.sources.Rubix.write(li, out,
        partitionKeys = Seq("l_returnflag"), sortKeys = Seq("l_orderkey"),
        serialization = "COMPACT")
      graft.sources.Rubix.read(s, out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("l_orderkey").cast("long").as("sum_ok"),
          sum(floor(col("l_quantity") * 100)).cast("long").as("qty_cents"),
          sum(floor(col("l_extendedprice") * 100)).cast("long").as("price_cents"))
    }),
    "q107_partitioned" -> ((s, d) => {
      val out = s"/tmp/graft-part/${java.lang.Integer.toHexString(d.hashCode)}"
      graft.sources.Sources.store(t(s, d, "orders"), out, "parquet",
        partitionBy = Seq("o_orderpriority"))
      s.read.parquet(out).filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"))
    }),
    // classifier-based quality scoring (DCLM/fastText-style curation):
    // fit logistic regression on the labeled embeddings, score every row.
    // Iterative GD over doubles — no SQL oracle for the FIT; the scoring
    // path is hash-anchored DIRECTLY by q210_logreg_score (binary
    // sigmoid: fixture weights, exact margin replay) and q212_ovr_score
    // (the multi-model argmax composition), and BpeKmeansSpec bounds the
    // learned accuracy
    "q108_quality_classifier" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val labeled = emb.withColumn("quality", (col("label") < 5).cast("int"))
      val (w, b) = graft.similarity.Classifier.logregFit(labeled, col("quality"), dim = 64)
      graft.similarity.Classifier.score(emb, w, b).select("vec_id", "quality_score")
    }),
    // exact L2 top-k — the PQ ground-truth scorer, oracle-exact (the
    // sequential-fold distance matches DuckDB's list_reduce bit-for-bit)
    "q110_exact_l2_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.similarity.Pq.exactL2TopK(emb, emb.filter(col("vec_id") < 5), topK = 10)
        .select("query_id", "vec_id", "rank")
    }),
    // product-quantized ANN end-to-end: train 8x16 codebooks, encode the
    // corpus to 8 codes/vector, ADC top-10 for 5 queries. Iterative Lloyd's
    // — no SQL oracle; PqSpec bounds recall vs exact L2
    "q109_pq_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val books = graft.similarity.Pq.pqTrain(emb, m = 8, k = 16, iters = 5)
      val codes = graft.similarity.Pq.pqEncode(emb, books)
      graft.similarity.Pq.pqTopK(codes, books, emb.filter(col("vec_id") < 5), topK = 10)
        .select("query_id", "vec_id", "rank")
    }),
    // PCA whitening under the FIXED fixture model: exercises the
    // corpus-scale projection pass (the oracle replays the identical
    // left-associative multiply-add order, so values hash-match exactly;
    // fitting is covered by PcaSpec)
    "q111_pca_whiten" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val m = graft.similarity.Pca.fixtureModel(dim = 64, k = 4)
      val proj = graft.similarity.Pca.transform(emb, m, k = 4, whiten = true)
      proj.select(col("vec_id") +:
        (0 until 4).map(c => element_at(col("pca"), c + 1).as(s"pc$c")): _*)
    }),
    // binary logreg scoring under the FIXED fixture model — the hash
    // anchor for q108's rows-only fitted path: the full sigmoid scoring
    // runs in Spark; the oracle replays the margin's sequential fold
    // bit-for-bit and derives the label via sigmoid's monotonicity
    // (score >= 0.5 ⟺ margin >= 0 — no exp in SQL)
    "q210_logreg_score" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (w, b) = graft.similarity.Classifier.fixtureLogregModel(dim = 64)
      graft.similarity.Classifier.linearScore(
          graft.similarity.Classifier.score(emb, w, b), w, b)
        .select(col("vec_id"),
          // threshold on the raw margin, not sigmoid(margin) >= 0.5: for
          // |margin| < ~5.6e-17 the sigmoid rounds to exactly 0.5 and the
          // two formulations disagree — margin >= 0 matches the oracle by
          // construction (quality_score stays exported-path-exercised via
          // the margin column it is derived from)
          (col("margin") >= 0.0).cast("int").as("quality"),
          col("margin"))
    }),
    // connected components over STRING ids (UUID-style doc keys): chains
    // of 5 zero-padded ids per block — diameter 4 takes the components
    // rounds past one iteration, lexicographic min = numeric min under
    // the padding, and the oracle replays the same transitive closure
    "q211_string_clusters" -> ((s, d) => {
      val pairs = t(s, d, "documents").filter(col("doc_id") % 5 =!= 4)
        .select(format_string("doc_%06d", col("doc_id")).as("id_a"),
          format_string("doc_%06d", col("doc_id") + 1).as("id_b"))
      graft.dedup.Dedup.dupClusters(pairs)
        .select(col("doc_id").as("doc_sid"), col("cluster"))
    }),
    // one-vs-rest multiclass scoring under FIXED 2^-5-quantized weights —
    // the direct anchor for q108's classifier family: the full per-class
    // sigmoid + argmax path (Classifier.scoreOvr, the same score() stage
    // q108 runs per fitted model) executes in Spark; the oracle replays
    // the raw margins and derives the argmax via sigmoid's monotonicity
    // (non-saturating by the fixture's scale — see fixtureOvrModels)
    "q212_ovr_score" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val models = graft.similarity.Classifier.fixtureOvrModels(dim = 64, nClasses = 3)
      graft.similarity.Classifier.scoreOvr(emb, models)
        .select(col("vec_id"), col("predicted_class"))
    }),
    // softmax multiclass scoring under FIXED integer weights: the full
    // probability path runs in Spark; the oracle checks the argmax via the
    // raw logits (softmax is monotone — no transcendentals in SQL)
    "q112_softmax_class" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (w, b) = graft.similarity.Classifier.fixtureSoftmaxModel(dim = 64, nClasses = 3)
      graft.similarity.Classifier.scoreSoftmax(emb, w, b)
        .select(col("vec_id"), col("predicted_class"))
    }),

    // quality screen over a UNIONED corpus (two sources unioned below the
    // feature projection and the fence): exercises PushThroughBarrier's
    // per-branch Union classification end-to-end — the raw doc_id conjunct
    // crosses the fence AND the union into BOTH branches' PushedFilters
    // (partition pruning preserved across a multi-source corpus), the
    // n_tokens conjunct stays above the fence (r16; PlanAuditSpec pins
    // the plan shape, this query pins the values)
    "q213_union_screen" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("source") === "src0").select("doc_id", "text")
      val b = docs.filter(col("source") =!= "src0").select("doc_id", "text")
      graft.plans.PushdownBarrier(TextAnalysis.withQualityFeatures(a.unionAll(b)))
        .filter(col("doc_id") % 7 === 0 && col("n_tokens") >= 5)
        .select("doc_id", "n_tokens")
    }),

    // the flagship composition end-to-end: PII scrub → quality screen
    // (on the redacted text) → exact dedup → MinHash near-dedup →
    // decontaminate → chunk → split → pack, with q71's PII synthesis up
    // front so the scrub stage does
    // real work. Every stage is individually oracle-anchored; this entry
    // hash-gates the WIRING (column threading, filter placement) of the
    // composition itself
    "q214_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val synth = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com ph 555-"), (lit(1000) + col("doc_id") % 9000).cast("string"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"))
      val train = docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), synth.as("text"))
      val evalSet = docs.filter(col("doc_id") % 20 === 0).select("text")
      graft.pipelines.Curation.curate(train, evalSet,
        graft.pipelines.Curation.Config(
          minTokens = 20L, maxTokens = 10000L, maxStopwordRatio = 0.5,
          dedupShingleN = 3, dedupK = 16, dedupBands = 4, dedupThreshold = 0.2,
          decontamN = 8, chunkTokens = 20, chunkOverlap = 5,
          packCapacity = 200L))
    })
  )

  // DuckDB equivalent of TextAnalysis.tokens (split on \s+, empties removed)
  private val duckToks = """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""

  def oracleSql: Map[String, String] = Map(
    "q01_generate" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue,
        |  CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS flag,
        |  l_returnflag || '_' || l_linestatus AS rf_ls,
        |  CAST(l_quantity AS INT) AS qty_int,
        |  COALESCE(l_returnflag, '?') AS rf_nvl
        |FROM lineitem""".stripMargin,
    "q02_filter" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1995-01-01'""".stripMargin,
    "q03_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q04_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q05_duplicate" ->
      """SELECT r_regionkey, r_name, counter
        |FROM region CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS counter) t""".stripMargin,
    "q06_flatten" ->
      "SELECT vec_id, unnest(embedding) AS component FROM embeddings",
    "q07_gather" ->
      """SELECT c_nationkey AS nationkey, c_name AS name FROM customer
        |UNION ALL SELECT s_nationkey, s_name FROM supplier""".stripMargin,
    "q08_combine" ->
      """SELECT acctbal, name FROM (
        |  SELECT c_acctbal AS acctbal, c_name AS name FROM customer
        |  UNION ALL SELECT s_acctbal, s_name FROM supplier) ORDER BY acctbal, name""".stripMargin,
    "q09_sort" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "q47_tee_split" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, 'main' AS sink FROM lineitem WHERE NOT (l_quantity >= 25)
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity, 'tee' AS sink FROM lineitem WHERE l_quantity >= 25""".stripMargin,
    "q48_multipass" ->
      """SELECT l_returnflag AS key, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, 'by_flag' AS pass FROM lineitem GROUP BY 1
        |UNION ALL
        |SELECT l_linestatus, CAST(sum(l_quantity) AS DOUBLE), 'by_status' FROM lineitem GROUP BY 1""".stripMargin,
    "q10_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  count(1) AS n_rows,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  avg(l_quantity) AS avg_qty,
        |  count(DISTINCT l_partkey) AS nd_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q11_groupby_all" ->
      """SELECT CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(1) AS n_rows,
        |  count(DISTINCT l_orderkey) AS nd_orders, median(l_quantity) AS med_qty
        |FROM lineitem""".stripMargin,
    "q12_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
        |  count(DISTINCT l_suppkey) AS nd_supps, count(1) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q13_collect" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
        |  array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
        |FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_orderkey""".stripMargin,
    "q14_presence_bitmap" ->
      """SELECT user_id,
        |  bit_or(CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) BETWEEN 0 AND 63
        |    THEN CAST(1 AS BIGINT) << CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
        |    ELSE 0 END) AS presence
        |FROM events GROUP BY user_id""".stripMargin,
    "q49_bitwise" ->
      """SELECT l_returnflag, bit_or(l_linenumber) AS or_lines, bit_and(l_linenumber) AS and_lines,
        |  bit_xor(l_partkey) AS xor_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q15_join_merge" ->
      """SELECT r_name, count(1) AS n_rows, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q16_join_hash" ->
      """SELECT r_name, n_name, count(1) AS n_cust, sum(c_acctbal) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q17_join_left" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "q18_join_full" ->
      """SELECT COALESCE(c.k, b.k) AS k, c.c_name, b.big_order FROM
        |  (SELECT c_custkey AS k, c_name FROM customer WHERE c_acctbal < 0) c
        |FULL JOIN
        |  (SELECT o_custkey AS k, o_orderkey AS big_order FROM orders WHERE o_totalprice > 150000) b
        |ON c.k = b.k""".stripMargin,
    "q19_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)""".stripMargin,
    "q20_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "q21_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(1) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q23_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q24_cube_count_distinct" ->
      """SELECT o_orderstatus, o_orderpriority, count(DISTINCT o_custkey) AS nd_cust, count(1) AS n_rows
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q25_cube_median" ->
      """SELECT l_returnflag, l_linestatus, median(l_quantity) AS med_qty, count(1) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q26_duple_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(max(s) AS DOUBLE) AS max_order_qty FROM
        |  (SELECT l_returnflag, l_linestatus, l_orderkey, sum(l_quantity) AS s FROM lineitem GROUP BY 1,2,3)
        |GROUP BY l_returnflag, l_linestatus
        |UNION ALL
        |SELECT l_returnflag, NULL, CAST(max(s) AS DOUBLE) FROM
        |  (SELECT l_returnflag, l_orderkey, sum(l_quantity) AS s FROM lineitem GROUP BY 1,2)
        |GROUP BY l_returnflag
        |UNION ALL
        |SELECT NULL, l_linestatus, CAST(max(s) AS DOUBLE) FROM
        |  (SELECT l_linestatus, l_orderkey, sum(l_quantity) AS s FROM lineitem GROUP BY 1,2)
        |GROUP BY l_linestatus
        |UNION ALL
        |SELECT NULL, NULL, CAST(max(s) AS DOUBLE) FROM
        |  (SELECT l_orderkey, sum(l_quantity) AS s FROM lineitem GROUP BY 1)""".stripMargin,
    "q50_grouping_combos" ->
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n_rows
        |FROM orders GROUP BY GROUPING SETS ((), (o_orderstatus), (o_orderpriority))""".stripMargin,
    "q27_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |FROM orders""".stripMargin,
    "q28_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "q29_window_analytics" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price,
        |  count(1) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_n,
        |  CAST(sum(o_orderkey) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_sum_key
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey ASC)""".stripMargin,
    "q30_dict_encode" ->
      """SELECT c_custkey, code AS segment_code FROM customer JOIN
        |  (SELECT colvalue, CAST(row_number() OVER (ORDER BY colvalue) AS INT) AS code
        |   FROM (SELECT DISTINCT c_mktsegment AS colvalue FROM customer)) d
        |ON c_mktsegment = d.colvalue""".stripMargin,
    "q31_dict_roundtrip" ->
      "SELECT c_custkey, c_mktsegment FROM customer",
    "q32_dictionary" ->
      """SELECT colvalue, CAST(row_number() OVER (ORDER BY colvalue) AS INT) AS code
        |FROM (SELECT DISTINCT event_type AS colvalue FROM events)""".stripMargin,
    "q33_blockgen" ->
      """SELECT l_returnflag, count(1) AS n_rows, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY l_returnflag""".stripMargin,
    "q51_shuffle_blockgen_inflight" ->
      """SELECT l_orderkey, max(l_linenumber) AS max_line, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q34_wordcount" ->
      s"""SELECT word, count(1) AS cnt FROM
        |  (SELECT unnest($duckToks) AS word FROM documents)
        |GROUP BY word""".stripMargin,
    "q35_tokencount" ->
      s"""SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "q123_top_token" ->
      s"""WITH tc AS (
        |  SELECT doc_id, word, count(1) AS cnt
        |  FROM (SELECT doc_id, unnest($duckToks) AS word FROM documents)
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT doc_id, word, cnt,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, word) AS rn,
        |    sum(cnt) OVER (PARTITION BY doc_id) AS nt
        |  FROM tc)
        |SELECT d.doc_id, r.word AS top_token,
        |  CAST(coalesce(r.cnt, 0) AS BIGINT) AS top_cnt,
        |  CAST(coalesce(r.nt, 0) AS BIGINT) AS n_tokens,
        |  CASE WHEN r.nt > 0 THEN CAST(r.cnt AS DOUBLE) / CAST(r.nt AS DOUBLE)
        |    ELSE 0.0 END AS top_frac
        |FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1""".stripMargin,
    "q36_quality" ->
      s"""WITH toks AS (SELECT doc_id, text, $duckToks AS ts FROM documents)
        |SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CASE WHEN len(ts) > 0
        |    THEN CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts)
        |    ELSE 0.0 END AS mean_token_len,
        |  CASE WHEN length(text) > 0
        |    THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)
        |    ELSE 0.0 END AS alpha_ratio,
        |  CASE WHEN length(text) > 0
        |    THEN CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / length(text)
        |    ELSE 0.0 END AS space_ratio,
        |  CASE WHEN len(ts) > 0
        |    THEN CAST(len(list_filter(list_transform(ts, x -> lower(x)),
        |         w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], w))) AS DOUBLE)
        |         / len(ts)
        |    ELSE 0.0 END AS stopword_ratio
        |FROM toks""".stripMargin,
    "q39_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(1) AS copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q40_dedup_ngram" -> OracleGen.ngramJaccard(n = 2, threshold = 0.05, sampleMod = 5,
      cap = Some(graft.dedup.Dedup.DefaultMaxDocsPerShingle)),
    // the prefix-filtered path must reproduce the all-pairs answer exactly,
    // so its oracle IS the plain all-pairs oracle at the same parameters
    "q142_dedup_prefix" -> OracleGen.ngramJaccard(n = 2, threshold = 0.8, sampleMod = 2),
    "q46_multimodal_meta" ->
      "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, 'image' AS media_type FROM documents",
    "q52_map_projection" ->
      """SELECT event_type, count(1) AS n, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    // hash-derived queries: the operators use portable integer arithmetic
    // (graft.functions.PortableHash) so the oracle reproduces the exact
    // values — SQL generated programmatically from the same constants.
    "q55_cube_wide" ->
      """SELECT l_returnflag, l_linestatus, l_linenumber, CAST(year(l_shipdate) AS INT) AS ship_year,
        |  count(1) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus, l_linenumber, year(l_shipdate))""".stripMargin,
    "q53_script_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(1) AS n_rows
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q54_script_join_cube" ->
      """SELECT c_mktsegment, count(1) AS n_rows, CAST(sum(o_totalprice) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment)""".stripMargin,
    "q37_langid" -> OracleGen.langId,
    "q38_fingerprint" -> OracleGen.fingerprint,
    "q41_dedup_minhash" -> OracleGen.minHashLsh(shingleN = 3, k = 16, bands = 4),
    "q113_minhash_batch_index" ->
      OracleGen.minHashAgainstIndex(shingleN = 3, k = 16, bands = 4, batchMod = 10),
    "q114_lm_score" -> OracleGen.lmScore(n = 2, fitMod = 2),
    "q115_bm25" -> OracleGen.bm25(bm25Terms, k = 50),
    "q116_lm_backoff" -> OracleGen.lmScoreBackoff(n = 2, fitMod = 2),
    "q117_ivf_assign" -> OracleGen.ivfAssign(nCentroids = 8),
    "q118_hybrid_rrf" -> OracleGen.hybridRrf(bm25Terms, k = 50, rrfK = 60),
    "q119_corpus_report" -> OracleGen.corpusReport,
    "q120_cut_spans" -> OracleGen.cutSpans(n = 8, minCount = 2L),
    "q121_soft_dedup" -> OracleGen.softDedup(shingleN = 3, k = 16, bands = 4, threshold = 0.2),
    "q122_dsir_importance" -> OracleGen.lmImportance(n = 2, targetMod = 3, targetRem = 0, backgroundRem = 1),
    "q57_dedup_pipeline" -> OracleGen.minHashDedup(shingleN = 3, k = 16, bands = 4, threshold = 0.2),
    "q56_join_salted" ->
      """SELECT o_orderpriority, count(1) AS n_rows, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q58_join_theta" ->
      """SELECT o_orderpriority, count(1) AS n_rows, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        |GROUP BY o_orderpriority""".stripMargin,
    "q59_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(1) AS n_events, min(ts_us) AS start_us
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "q42_dedup_simhash" -> OracleGen.simHashCandidates(maxHamming = 3),
    "q43_embed_neardup" -> OracleGen.embeddingNearDup(threshold = 0.45),
    "q69_embed_neardup_lsh" ->
      OracleGen.embeddingNearDupLsh(threshold = 0.45, nPlanes = 16, bands = 4),
    "q44_ann_brute" -> OracleGen.annBrute(k = 5, maxQueryId = 5),
    "q186_margin_mine" -> OracleGen.marginMine(k = 4, srcMax = 30L,
      tgtLo = 100L, tgtHi = 200L, threshold = 0.0),
    "q187_diverse_select" -> OracleGen.diverseSelect(nCentroids = 8),
    "q110_exact_l2_topk" -> OracleGen.annL2(k = 10, maxQueryId = 5),
    "q111_pca_whiten" -> OracleGen.pcaWhiten(dim = 64, k = 4),
    "q112_softmax_class" -> OracleGen.softmaxClass(dim = 64, nClasses = 3),
    "q213_union_screen" ->
      s"""SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens
        |FROM documents WHERE source = 'src0'
        |  AND doc_id % 7 = 0 AND len($duckToks) >= 5
        |UNION ALL
        |SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens
        |FROM documents WHERE source <> 'src0'
        |  AND doc_id % 7 = 0 AND len($duckToks) >= 5""".stripMargin,
    "q212_ovr_score" -> OracleGen.ovrScore(dim = 64, nClasses = 3),
    "q214_curation" -> OracleGen.curation(evalMod = 20, minTokens = 20L,
      maxTokens = 10000L, maxStopwordRatio = 0.5, shingleN = 3, k = 16,
      bands = 4, threshold = 0.2, decontamN = 8, chunkTokens = 20,
      overlap = 5, capacity = 200L),
    "q210_logreg_score" -> OracleGen.logregScore(dim = 64),
    "q211_string_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT printf('doc_%06d', doc_id) AS id_a,
        |    printf('doc_%06d', doc_id + 1) AS id_b
        |  FROM documents WHERE doc_id % 5 <> 4
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
        |)
        |SELECT id AS doc_sid, min(lab) AS cluster FROM reach GROUP BY id""".stripMargin,
    "q45_ann_lsh" -> OracleGen.annLsh(k = 5, nPlanes = 16, bands = 4, maxQueryId = 5),
    "q64_ann_ivf" -> OracleGen.annIvf(k = 5, centroidMod = 50, maxQueryId = 5),
    "q133_ann_ivf_nprobe" -> OracleGen.annIvf(k = 5, centroidMod = 50, maxQueryId = 5, nprobe = 2),
    "q60_dedup_clusters" -> OracleGen.dupClusters(shingleN = 3, k = 16, bands = 4, threshold = 0.2),
    "q65_dedup_survivors" -> OracleGen.dedupSurvivors(shingleN = 3, k = 16, bands = 4, threshold = 0.2),
    "q61_quality_filter" ->
      s"""WITH toks AS (SELECT doc_id, text, $duckToks AS ts FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CASE WHEN length(text) > 0
        |      THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)
        |      ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN len(ts) > 0
        |      THEN CAST(len(list_filter(list_transform(ts, x -> lower(x)),
        |           w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], w))) AS DOUBLE)
        |           / len(ts)
        |      ELSE 0.0 END AS stopword_ratio
        |  FROM toks),
        |lang AS (SELECT * FROM (${OracleGen.langId}))
        |SELECT q.doc_id, q.n_tokens, l.lang_pred
        |FROM qual q JOIN lang l ON q.doc_id = l.doc_id
        |WHERE q.n_tokens >= 10 AND q.alpha_ratio > 0.5
        |  AND q.stopword_ratio >= 0.02 AND l.lang_pred = 'en'""".stripMargin,
    "q62_window_distribution" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q63_incremental_mv" ->
      """SELECT o_orderpriority, CAST(sum(o_orderkey) AS BIGINT) AS sum_key, count(1) AS n_rows
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q66_subword" ->
      s"""SELECT doc_id, CAST(len(regexp_extract_all(text, '${graft.text.TextAnalysis.subwordPattern}')) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin,
    "q67_incremental_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS nd_cust
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q70_repetition" -> OracleGen.repetition,
    "q71_pii_scrub" -> OracleGen.piiScrub,
    "q72_sample_stratified" -> OracleGen.sampleStratified(
      Seq("de" -> 1000, "en" -> 500, "es" -> 250, "fr" -> 250, "zh" -> 100),
      defaultPermille = 1000),
    "q73_sample_reservoir" -> OracleGen.sampleReservoir(n = 20),
    "q126_weighted_sample" -> OracleGen.weightedSample(cap = 500L),
    "q127_det_shuffle" -> OracleGen.detShuffle(salt = "shuf"),
    "q182_negative_sample" -> OracleGen.negativeSample(k = 4, buckets = 64,
      anchorMax = 50L),
    // mirrors kaplanMeier: per-(cohort, duration) grid, suffix-sum at-risk
    // counts, ascending prefix fold of the (1 - d/n) factors
    "q191_kaplan_meier" ->
      """WITH s AS (SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS dur,
        |    CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END AS ev,
        |    user_id % 5 AS cohort
        |  FROM events GROUP BY user_id),
        |perT AS (SELECT cohort, dur, sum(ev) AS d, count(1) AS c
        |  FROM s GROUP BY 1, 2),
        |n AS (SELECT cohort, dur, d,
        |    sum(c) OVER (PARTITION BY cohort ORDER BY dur DESC
        |      ROWS UNBOUNDED PRECEDING) AS n FROM perT),
        |a AS (SELECT cohort,
        |    list(struct_pack(t := dur, d := d, n := n) ORDER BY dur) AS arr
        |  FROM n GROUP BY 1),
        |e AS (SELECT cohort, arr, unnest(arr) AS u FROM a)
        |SELECT cohort, u.t AS duration, CAST(u.n AS BIGINT) AS n_risk,
        |  CAST(u.d AS BIGINT) AS d_events,
        |  list_reduce(list_prepend(CAST(1 AS DOUBLE),
        |    list_transform(list_filter(arr, x -> x.t <= u.t),
        |      x -> 1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))),
        |    (acc, f) -> acc * f) AS survival
        |FROM e WHERE u.d > 0""".stripMargin,
    // naive SCD2 transcription: per fact, the max-(valid_from, version)
    // version at-or-before the fact, dimension masked when expired
    "q190_scd_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
        |  FROM events),
        |f AS (SELECT user_id, event_id AS fact_id, t FROM e
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, t AS valid_from, event_id AS version_id,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
        |  FROM e WHERE event_type = 'click'),
        |j AS (SELECT f.user_id, f.fact_id, f.t, v.valid_from, v.version_id,
        |    v.valid_to,
        |    row_number() OVER (PARTITION BY f.user_id, f.fact_id
        |      ORDER BY v.valid_from DESC, v.version_id DESC) AS rk
        |  FROM f LEFT JOIN v ON f.user_id = v.user_id AND v.valid_from <= f.t)
        |SELECT user_id, fact_id, t AS ts_us,
        |  CASE WHEN valid_from IS NOT NULL
        |    AND (valid_to IS NULL OR t < valid_to) THEN version_id
        |  END AS version_id
        |FROM j WHERE rk = 1""".stripMargin,
    // the naive transcription of the sorted-neighborhood window: one
    // global row_number, pairs within the rank window
    "q189_sorted_neighborhood" ->
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY lang, n_chars, doc_id) AS pos
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(b.pos - a.pos AS BIGINT) AS rank_dist
        |FROM r a JOIN r b ON b.pos > a.pos AND b.pos - a.pos < 3""".stripMargin,
    // mirrors cusumDrift: integer window cumsum, abTest's moment trees,
    // the same (−|D|, ts) argmax
    "q188_cusum_drift" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000) AS BIGINT) AS qv FROM events),
        |st AS (SELECT event_type, CAST(count(1) AS BIGINT) AS n,
        |    sum(qv) AS s, sum(qv * qv) AS ss FROM e GROUP BY 1),
        |pr AS (SELECT event_type, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CASE WHEN n > 1 THEN (CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |        / CAST(n - 1 AS DOUBLE) END AS var FROM st),
        |c AS (SELECT event_type, t,
        |    sum(qv) OVER (PARTITION BY event_type ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    row_number() OVER (PARTITION BY event_type ORDER BY t, event_id) AS i
        |  FROM e),
        |sc AS (SELECT c.event_type, c.t,
        |    (CAST(cum AS DOUBLE) - CAST(i AS DOUBLE) * pr.mean)
        |      / (sqrt(pr.var) * sqrt(CAST(pr.n AS DOUBLE))) AS stat
        |  FROM c JOIN pr USING (event_type) WHERE pr.var > 0),
        |r AS (SELECT event_type, t, stat,
        |    row_number() OVER (PARTITION BY event_type ORDER BY -abs(stat), t) AS rk
        |  FROM sc)
        |SELECT event_type, t AS changepoint_ts, stat AS drift_stat
        |FROM r WHERE rk = 1""".stripMargin,
    // mirrors timeWeightedAvg: exact HUGEINT moment sums, one double ratio
    "q183_time_weighted_avg" ->
      """WITH iv AS (SELECT event_type,
        |    epoch_us(ts) AS st,
        |    epoch_us(ts) + CAST(floor(value * 6.0e7) AS BIGINT) AS en,
        |    CAST(CAST(floor(value * 1000) AS BIGINT) AS HUGEINT) AS qv
        |  FROM events)
        |SELECT event_type, count(1) AS n_intervals,
        |  CASE WHEN sum(en - st) > 0 THEN
        |    CAST(sum(qv * (en - st)) AS DOUBLE) / CAST(sum(en - st) AS DOUBLE)
        |  END AS twa
        |FROM iv GROUP BY 1""".stripMargin,
    "q128_paragraph_dedup" -> OracleGen.paragraphDedup,
    "q129_semdedup" -> OracleGen.semDedup(nCentroids = 8, threshold = 0.45),
    "q130_epoch_interleave" -> OracleGen.epochInterleave(salt = "ilv"),
    "q131_kmv_distinct" -> OracleGen.kmvDistinct(k = 64),
    // incremental KMV MV == direct KMV over the full fact (semilattice)
    "q195_kmv_mv" -> OracleGen.kmvDistinct(k = 64),
    "q132_cms_counts" -> OracleGen.cmsCounts(depth = 4, width = 1024),
    "q143_bloom_membership" -> OracleGen.bloomContains(numBits = 1 << 14, hashes = 5),
    "q144_url_normalize" -> OracleGen.urlNormalize,
    "q145_url_dedup" -> OracleGen.urlDedup,
    "q146_kmv_setops" -> OracleGen.kmvSetOps(k = 64),
    "q147_gap_fill" -> OracleGen.gapFill(keyMod = 25, stepUs = 3600L * 1000000L),
    "q148_winsorize" -> OracleGen.winsorize(k = 128, lo = 0.05, hi = 0.95),
    "q149_rolling_anomaly" -> OracleGen.rollingAnomaly(keyMod = 25,
      stepUs = 3600L * 1000000L, window = 24, zThreshold = 2.5),
    "q150_funnel" -> OracleGen.funnel(Seq("view", "click", "purchase")),
    // the single-pass form must reproduce the k-join form bit for bit
    "q179_funnel_single" -> OracleGen.funnel(Seq("view", "click", "purchase")),
    "q185_funnel_windowed" -> OracleGen.funnel(Seq("view", "click", "purchase"),
      maxSpan = Some(3600000000L)),
    // mirrors seasonalAnomalies' exact trees: abTest's quantized moment
    // arithmetic per (event_type, hour-of-day), z over the joined-back rows
    "q181_seasonal_anomaly" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000) AS BIGINT) AS qv FROM events),
        |p AS (SELECT event_id, event_type, qv,
        |    (t % 86400000000) // 3600000000 AS phase FROM e),
        |st AS (SELECT event_type, phase, CAST(count(1) AS BIGINT) AS n,
        |    sum(qv) AS s, sum(qv * qv) AS ss FROM p GROUP BY 1, 2),
        |pr AS (SELECT event_type, phase, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CASE WHEN n > 1 THEN (CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |        / CAST(n - 1 AS DOUBLE) END AS var FROM st)
        |SELECT p.event_id, p.event_type, p.phase,
        |  (CAST(p.qv AS DOUBLE) - pr.mean) / sqrt(pr.var) AS z
        |FROM p JOIN pr USING (event_type, phase)
        |WHERE pr.var > 0 AND pr.n >= 2
        |  AND abs((CAST(p.qv AS DOUBLE) - pr.mean) / sqrt(pr.var)) > 2.5""".stripMargin,
    "q151_retention" -> OracleGen.retention(dayUs = 86400L * 1000000L),
    "q152_ab_test" -> OracleGen.abTest,
    "q153_transitions" -> OracleGen.transitions,
    "q154_quantile_bins" -> OracleGen.quantileBins(nBins = 4, k = 128),
    "q156_corr_matrix" -> OracleGen.corrMatrix,
    "q159_kcore" -> OracleGen.kCore(k = 10, rounds = 8),
    "q160_readability" -> OracleGen.readability,
    "q161_concurrency" -> OracleGen.concurrency,
    "q175_concurrency_by" ->
      """WITH iv AS (SELECT event_type, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
        |  FROM events),
        |d AS (SELECT event_type, t, CAST(sum(dlt) AS BIGINT) AS net FROM (
        |    SELECT event_type, s AS t, 1 AS dlt FROM iv
        |    UNION ALL SELECT event_type, e, -1 FROM iv)
        |  GROUP BY 1, 2)
        |SELECT event_type, t, net,
        |  CAST(sum(net) OVER (PARTITION BY event_type ORDER BY t) AS BIGINT) AS concurrent
        |FROM d""".stripMargin,
    "q162_skyline" -> OracleGen.skyline,
    "q178_skyline3" ->
      """WITH p AS (SELECT p_partkey, p_size, p_retailprice,
        |    p_partkey % 97 AS p_bucket FROM part)
        |SELECT * FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.p_retailprice >= a.p_retailprice AND b.p_bucket >= a.p_bucket
        |    AND b.p_size <= a.p_size
        |    AND (b.p_retailprice > a.p_retailprice OR b.p_bucket > a.p_bucket
        |      OR b.p_size < a.p_size))""".stripMargin,
    "q163_cms_join_size" -> OracleGen.cmsJoinSize(depth = 4, width = 1024),
    "q164_feature_hash" -> OracleGen.featureHash(dim = 256),
    "q173_feature_hash_tfidf" -> OracleGen.featureHashTfidf(dim = 256),
    "q165_mad_outliers" -> OracleGen.madOutliers(k = 256, cutoff = 3.0),
    "q167_chi_square" -> OracleGen.chiSquare,
    // mirrors linearTrend's global min-rebase: x' = x − min(x) in BIGINT,
    // exact HUGEINT moments on x', and the intercept mapped back with the
    // same `− slope·x0` double tree the Spark side uses
    "q174_linear_trend" ->
      """WITH e0 AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS xr,
        |    CAST(CAST(floor(value * 1e6) AS BIGINT) AS HUGEINT) AS yq FROM events),
        |xm AS (SELECT min(xr) AS x0 FROM e0),
        |e AS (SELECT event_type, CAST(xr - x0 AS HUGEINT) AS x, yq, x0 FROM e0, xm),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n, min(x0) AS x0,
        |    sum(x) AS sx, sum(yq) AS sy, sum(x * yq) AS sxy, sum(x * x) AS sxx
        |  FROM e GROUP BY 1),
        |s AS (SELECT event_type, n, sx, sy, x0,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS den,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den <> 0 THEN num / den / 1e6 END AS slope,
        |  CASE WHEN den <> 0 THEN
        |    (CAST(sy AS DOUBLE) / 1e6 - (num / den / 1e6) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) - (num / den / 1e6) * CAST(x0 AS DOUBLE)
        |  END AS intercept
        |FROM s""".stripMargin,
    "q172_percent_rank_by" ->
      """SELECT event_id, event_type, value,
        |  percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS prank
        |FROM events""".stripMargin,
    "q176_decayed_stats" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t,
        |    CAST(CAST(floor(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS HUGEINT) AS vq
        |  FROM events),
        |w AS (SELECT event_type, vq,
        |    CAST(CASE WHEN t <= 1709251200000000 AND a < 62
        |         THEN 1::BIGINT << (62 - a) ELSE 0 END AS HUGEINT) AS wn
        |  FROM (SELECT event_type, t, vq,
        |      CAST((1709251200000000 - t) // 86400000000 AS INT) AS a FROM e)),
        |m AS (SELECT event_type, sum(wn) AS wn, sum(wn * vq) AS ws
        |  FROM w GROUP BY 1)
        |SELECT event_type,
        |  CAST(CAST(wn AS VARCHAR) AS DOUBLE) / 4611686018427387904.0 AS decayed_n,
        |  CAST(CAST(ws AS VARCHAR) AS DOUBLE) / 4611686018427387904.0 / 1e6 AS decayed_sum,
        |  CASE WHEN wn > 0 THEN CAST(CAST(ws AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(wn AS VARCHAR) AS DOUBLE) / 1e6 END AS ewm
        |FROM m""".stripMargin,
    "q171_decayed_counts" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
        |w AS (SELECT event_type,
        |    CASE WHEN t <= 1709251200000000 AND a < 62 THEN 1::BIGINT << (62 - a)
        |         ELSE 0 END AS num
        |  FROM (SELECT event_type, t,
        |      CAST((1709251200000000 - t) // 86400000000 AS INT) AS a FROM e))
        |SELECT event_type,
        |  CAST(CAST(sum(num) AS VARCHAR) AS DOUBLE) / 4611686018427387904.0 AS decayed
        |FROM w GROUP BY 1""".stripMargin,
    "q177_attribution_position" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |t AS (SELECT user_id, event_id AS touch_id, ts_us AS tt FROM e
        |  WHERE event_type IN ('view', 'click')),
        |c AS (SELECT user_id, event_id AS conv_id, ts_us AS ct FROM e
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT c.conv_id, t.touch_id, t.tt FROM c JOIN t ON c.user_id = t.user_id
        |  AND t.tt <= c.ct AND t.tt > c.ct - 1800000000),
        |r AS (SELECT conv_id, touch_id,
        |    row_number() OVER (PARTITION BY conv_id ORDER BY tt, touch_id) AS rf,
        |    count(*) OVER (PARTITION BY conv_id) AS n
        |  FROM j)
        |SELECT conv_id, touch_id,
        |  CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
        |       WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |       WHEN rf = 1 OR rf = n THEN CAST(0.4 AS DOUBLE)
        |       ELSE CAST(0.2 AS DOUBLE) / CAST(n - 2 AS DOUBLE) END AS credit
        |FROM r""".stripMargin,
    "q170_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |t AS (SELECT user_id, event_id AS touch_id, ts_us AS tt FROM e
        |  WHERE event_type IN ('view', 'click')),
        |c AS (SELECT user_id, event_id AS conv_id, ts_us AS ct FROM e
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT c.conv_id, t.touch_id FROM c JOIN t ON c.user_id = t.user_id
        |  AND t.tt <= c.ct AND t.tt > c.ct - 1800000000),
        |n AS (SELECT conv_id, count(*) AS n FROM j GROUP BY 1)
        |SELECT j.conv_id, j.touch_id, CAST(1.0 AS DOUBLE) / CAST(n.n AS DOUBLE) AS credit
        |FROM j JOIN n USING (conv_id)""".stripMargin,
    "q169_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |o AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 5 <> 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey""".stripMargin,
    "q168_bloom_store" ->
      """SELECT l_suppkey, CAST(count(1) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin,
    "q166_percent_rank" ->
      """SELECT event_id, value,
        |  percent_rank() OVER (ORDER BY value) AS prank
        |FROM events""".stripMargin,
    "q158_assoc_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 50 AS i FROM lineitem),
        |ok AS (SELECT b FROM (SELECT b, count(1) AS c FROM it GROUP BY 1) WHERE c <= 100),
        |bd AS (SELECT it.* FROM it JOIN ok USING (b)),
        |nb AS (SELECT count(DISTINCT b) AS n FROM bd),
        |ic AS (SELECT i, CAST(count(1) AS BIGINT) AS icnt FROM bd GROUP BY 1),
        |pr AS (SELECT a.i AS item_a, b.i AS item_b, CAST(count(1) AS BIGINT) AS n_pair
        |  FROM bd a JOIN bd b ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(1) >= 5)
        |SELECT p.item_a, p.item_b, p.n_pair, ia.icnt AS n_a, ib.icnt AS n_b,
        |  CAST(p.n_pair AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        |  CAST(p.n_pair AS DOUBLE) / CAST(ia.icnt AS DOUBLE) AS conf_a_to_b,
        |  CAST(p.n_pair AS DOUBLE) / CAST(ib.icnt AS DOUBLE) AS conf_b_to_a,
        |  (CAST(p.n_pair AS DOUBLE) / CAST(ia.icnt AS DOUBLE))
        |    / (CAST(ib.icnt AS DOUBLE) / CAST(nb.n AS DOUBLE)) AS lift
        |FROM pr p JOIN ic ia ON ia.i = p.item_a JOIN ic ib ON ib.i = p.item_b CROSS JOIN nb""".stripMargin,
    "q157_avro_roundtrip" ->
      """SELECT l_returnflag, CAST(count(1) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_pk
        |FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY 1""".stripMargin,
    "q155_triangles" ->
      """WITH raw AS (SELECT doc_id // 8 AS a, doc_id // 8 + 1 + doc_id % 8 AS b FROM documents),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b)
        |SELECT CAST(count(1) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "q134_quantile_sketch" -> OracleGen.quantileSketch(k = 64, qs = Seq(0.5, 0.9, 0.99)),
    "q184_quantile_match" -> OracleGen.quantileMatch(nQ = 20, k = 64),
    "q135_semdedup_batch_index" ->
      OracleGen.semDedupIncremental(nCentroids = 8, threshold = 0.45, batchMax = 100),
    "q136_strip_markup" -> OracleGen.stripMarkup,
    "q137_script_profile" -> OracleGen.scriptProfile,
    "q141_gopher_quality" -> OracleGen.gopherRules(minWords = 50, maxWords = 100000,
      minMeanWordLen = 3.0, maxMeanWordLen = 10.0, maxSymbolWordRatio = 0.1,
      maxBulletRatio = 0.9, maxEllipsisRatio = 0.3, minAlphaWordRatio = 0.8,
      minStopHits = 2),
    "q139_winnow" -> OracleGen.winnowStats(n = 4, w = 4),
    "q140_winnow_overlap" -> OracleGen.winnowOverlap(n = 4, w = 4, minShared = 2,
      maxDocId = 600, groupMod = 100, chunkWords = winnowChunkWords),
    "q124_domain_cap" ->
      """WITH q(source, quota) AS (
        |  VALUES ('src0', 5), ('src1', 12), ('src2', 3), ('src3', 20), ('src17', 7)
        |), ranked AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM ranked LEFT JOIN q USING (source)
        |WHERE rn <= coalesce(quota, 10)""".stripMargin,
    "q125_dedup_keep_best" ->
      OracleGen.survivorsByQuality(shingleN = 3, k = 16, bands = 4, threshold = 0.2),
    "q74_pack_sequences" -> OracleGen.packGreedy(capacity = 200),
    "q75_mixture_plan" -> OracleGen.mixturePlan(budget = 20000L),
    "q76_spmm" ->
      """WITH a AS (
        |  SELECT l_partkey AS i, l_orderkey AS k, CAST(1 AS BIGINT) AS v
        |  FROM lineitem WHERE l_partkey % 20 = 0)
        |SELECT x.i, y.i AS j, CAST(sum(x.v * y.v) AS BIGINT) AS val
        |FROM a x JOIN a y ON x.k = y.k
        |WHERE x.i < y.i GROUP BY x.i, y.i""".stripMargin,
    "q77_histogram" ->
      """SELECT bucket, count(1) AS n, 0.0 + CAST(bucket AS DOUBLE) * 25000.0 AS bucket_lo
        |FROM (SELECT CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT) AS bucket FROM orders)
        |GROUP BY bucket""".stripMargin,
    "q78_passage_dup" -> OracleGen.crossDocShingleStats(n = 8),
    "q81_decontaminate" -> OracleGen.decontaminate(n = 8, minOverlap = 1, evalMod = 10),
    "q82_vocab_pairs" -> OracleGen.pairCounts(minCount = 2L),
    "q90_mixture_take" -> OracleGen.mixtureTake(budget = 20000L),
    "q92_bpe_segment" -> OracleGen.bpeSegment(graft.text.Bpe.demoMerges),
    "q206_bpe_learn_exact" -> OracleGen.bpeLearnExact(numMerges = 6, minCount = 2L),
    "q207_kmeans_portable" ->
      OracleGen.kmeansPortable(k = 4, iters = 2, scale = 1000000L),
    "q208_kcenter_greedy" -> OracleGen.kCenterPortable(k = 8, scale = 1000000L),
    "q209_mmr_select" -> OracleGen.mmrPortable(k = 8, lambdaPct = 70, scale = 1000000L),
    "q93_duplicate_spans" -> OracleGen.duplicateSpans(n = 8, minCount = 2L),
    "q86_chunk" -> OracleGen.chunk(chunkTokens = 20, overlap = 5),
    "q87_crosscorpus_jaccard" ->
      OracleGen.crossCorpusJaccard(n = 2, threshold = 0.05, sampleMod = 5,
        cap = Some(graft.dedup.Dedup.DefaultMaxDocsPerShingle)),
    // the prefix form must reproduce the all-pairs cross answer exactly
    "q196_crosscorpus_prefix" ->
      OracleGen.crossCorpusJaccard(n = 2, threshold = 0.8, sampleMod = 5),
    "q197_retrieval_metrics" -> OracleGen.retrievalMetrics(k = 10),
    "q199_pagerank" -> OracleGen.pageRankPortable(iters = 5, dampingPct = 85),
    "q200_calibration" -> OracleGen.calibration(dim = 64, nBins = 10),
    "q201_label_prop" -> OracleGen.labelPropagation(iters = 4),
    "q204_benford" -> OracleGen.benford,
    "q205_dict_refresh" ->
      """WITH vals AS (SELECT c_custkey AS k,
        |    c_mktsegment || '_' || CAST(c_custkey % 40 AS VARCHAR) AS v
        |  FROM customer),
        |b1 AS (SELECT DISTINCT v FROM vals WHERE k <= 50),
        |d1 AS (SELECT v AS colvalue,
        |    CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS code FROM b1),
        |b2 AS (SELECT DISTINCT v FROM vals WHERE k <= 100),
        |n2 AS (SELECT v FROM b2 WHERE v NOT IN (SELECT colvalue FROM d1)),
        |d2 AS (SELECT colvalue, code FROM d1 UNION ALL
        |  SELECT v, row_number() OVER (ORDER BY v)
        |    + (SELECT coalesce(max(code), 0) FROM d1) FROM n2),
        |b3 AS (SELECT DISTINCT v FROM vals),
        |n3 AS (SELECT v FROM b3 WHERE v NOT IN (SELECT colvalue FROM d2)),
        |d3 AS (SELECT colvalue, code FROM d2 UNION ALL
        |  SELECT v, row_number() OVER (ORDER BY v)
        |    + (SELECT coalesce(max(code), 0) FROM d2) FROM n3)
        |SELECT colvalue, CAST(code AS BIGINT) AS code FROM d3""".stripMargin,
    "q203_did" ->
      """WITH q AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
        |    CASE WHEN epoch_us(ts) >= 1705363200000000 THEN 1 ELSE 0 END AS post,
        |    CAST(floor(value * 100) AS BIGINT) AS qv FROM events),
        |c AS (SELECT treated, post, count(1) AS n,
        |    CAST(sum(qv) AS DOUBLE) / count(1) AS mean FROM q GROUP BY 1, 2)
        |SELECT tp.n AS n_t_pre, tp.mean AS mean_t_pre,
        |  ta.n AS n_t_post, ta.mean AS mean_t_post,
        |  cp.n AS n_c_pre, cp.mean AS mean_c_pre,
        |  ca.n AS n_c_post, ca.mean AS mean_c_post,
        |  (ta.mean - tp.mean) - (ca.mean - cp.mean) AS did
        |FROM (SELECT n, mean FROM c WHERE treated = 1 AND post = 0) tp,
        |     (SELECT n, mean FROM c WHERE treated = 1 AND post = 1) ta,
        |     (SELECT n, mean FROM c WHERE treated = 0 AND post = 0) cp,
        |     (SELECT n, mean FROM c WHERE treated = 0 AND post = 1) ca""".stripMargin,
    "q202_split_leakage" ->
      s"""WITH h AS (SELECT user_id,
         |    ${OracleGen.hashBucket("event_id", "split", 1000)} AS b FROM events),
         |s AS (SELECT user_id,
         |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |      ELSE 'test' END AS split FROM h)
         |SELECT user_id AS "group", count(1) AS n_rows,
         |  CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
         |  string_agg(DISTINCT split, ',' ORDER BY split) AS splits
         |FROM s GROUP BY 1 HAVING count(DISTINCT split) > 1""".stripMargin,
    "q198_drift" ->
      """WITH b AS (SELECT ((CAST(floor(value * 10) AS BIGINT) % 20) + 20) % 20 AS bucket,
        |    count(1) AS n_base
        |  FROM events WHERE event_type <> 'click' GROUP BY 1),
        |c AS (SELECT ((CAST(floor(value * 10) AS BIGINT) % 20) + 20) % 20 AS bucket,
        |    count(1) AS n_cur
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |j AS (SELECT coalesce(b.bucket, c.bucket) AS bucket,
        |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
        |  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket),
        |t AS (SELECT sum(n_base) AS A, sum(n_cur) AS B FROM j)
        |SELECT bucket, CAST(n_base AS BIGINT) AS n_base,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(n_base AS DOUBLE) / CAST(A AS DOUBLE) AS p_base,
        |  CAST(n_cur AS DOUBLE) / CAST(B AS DOUBLE) AS p_cur,
        |  CAST(abs(n_base * B - n_cur * A) AS BIGINT) AS tv_num,
        |  CAST(A AS BIGINT) AS total_base, CAST(B AS BIGINT) AS total_cur
        |FROM j, t""".stripMargin,
    "q88_heavy_hitters" -> OracleGen.heavyHittersTokens(minShare = 0.005),
    "q89_hash_split" ->
      OracleGen.hashSplit(Seq((800, "train"), (900, "val")), lastLabel = "test"),
    "q83_join_asof" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_ts_us, event_id AS click_event_id
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us, p.value, q.click_ts_us, q.click_event_id
        |FROM p LEFT JOIN LATERAL (
        |  SELECT click_ts_us, click_event_id FROM c
        |  WHERE c.user_id = p.user_id AND c.click_ts_us <= p.ts_us
        |  ORDER BY click_ts_us DESC, click_event_id DESC LIMIT 1) q ON true""".stripMargin,
    "q84_join_range" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_ts_us, event_id AS click_event_id
        |      FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us, c.click_ts_us, c.click_event_id
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND p.ts_us BETWEEN c.click_ts_us AND c.click_ts_us + 3600000000""".stripMargin,
    "q85_join_bloom" ->
      """SELECT l_returnflag, CAST(count(1) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000.0
        |GROUP BY l_returnflag""".stripMargin,
    "q79_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_fp
        |FROM documents""".stripMargin,
    "q80_blocklist" ->
      s"""SELECT doc_id,
        |  CAST(len(list_filter(list_transform($duckToks, x -> lower(x)),
        |       t -> list_contains(['slow','big','the'], t))) AS BIGINT) AS n_blocked,
        |  len(list_filter(list_transform($duckToks, x -> lower(x)),
        |       t -> list_contains(['slow','big','the'], t))) = 0 AS keep_clean
        |FROM documents""".stripMargin,
    "q68_langid_ngram" -> {
      val values = graft.text.TextAnalysis.ngramProfiles.zipWithIndex.map {
        case ((lang, grams), i) =>
          val score = grams
            .map(g => s"(length(t) - length(regexp_replace(t, '$g', '', 'g')))")
            .mkString(" + ")
          s"($score, ${-i}, '$lang')"
      }.mkString(", ")
      // NULL text → NULL prediction (NgramLangPick null-propagates; the
      // old regexp form's all-NULL scores would tie-break to the first
      // profile here and silently disagree on any NULL-text row)
      s"""WITH lowered AS (SELECT doc_id, lang, lower(text) AS t FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN t IS NULL THEN NULL ELSE
        |    (SELECT l FROM (VALUES $values) v(s, o, l) ORDER BY s DESC, o DESC LIMIT 1)
        |  END AS lang_ngram
        |FROM lowered""".stripMargin
    },
    "q95_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,
    "q96_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,
    "q97_novelty" -> OracleGen.noveltyFilter(sampleMod = 5),
    "q98_mixture_temperature" -> OracleGen.mixturePlanTemperature(budget = 100000L),
    "q99_tfidf" -> OracleGen.topTerms(k = 5),
    "q100_containment" -> OracleGen.overlapCandidates(n = 2, threshold = 0.25, sampleMod = 5),
    "q101_edit_join" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 16) AS key
        |           FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       levenshtein(a.key, b.key) AS dist
        |FROM k a JOIN k b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.key, b.key) <= 2""".stripMargin,
    "q102_distinct_skewproof" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin,
    "q105_zorder" ->
      """SELECT l_returnflag, count(1) AS n_rows, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_partkey <= 100 GROUP BY l_returnflag""".stripMargin,
    "q106_compact" ->
      """SELECT event_type, count(1) AS n_rows, CAST(sum(user_id) AS BIGINT) AS sum_users
        |FROM events GROUP BY event_type""".stripMargin,
    "q107_partitioned" ->
      """SELECT o_orderstatus, count(1) AS n_rows, CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus""".stripMargin,
    // the upsert's final state from first principles: updates override by
    // key, inserts append, everything else keeps its original row
    "q180_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderpriority FROM orders),
        |u AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice * 2 AS o_totalprice, o_orderpriority
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderpriority
        |  FROM base WHERE o_orderkey % 97 = 0),
        |fin AS (SELECT * FROM u
        |  UNION ALL
        |  SELECT t.* FROM base t
        |  WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = t.o_orderkey))
        |SELECT o_orderpriority, count(1) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
        |FROM fin GROUP BY 1""".stripMargin,
    // the CDC merge's final state from first principles: deletes (%13)
    // remove their key even when a same-batch update (%10) exists (the
    // delete carries the greater seq), inserts are fresh keys
    "q192_cdc_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderpriority FROM orders),
        |fin AS (SELECT * FROM base
        |    WHERE o_orderkey % 13 <> 0 AND o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice * 2 AS o_totalprice, o_orderpriority
        |  FROM base WHERE o_orderkey % 10 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderpriority
        |  FROM base WHERE o_orderkey % 97 = 0)
        |SELECT o_orderpriority, count(1) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
        |FROM fin GROUP BY 1""".stripMargin,
    "q193_rubix_roundtrip" ->
      """SELECT l_returnflag, count(1) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(sum(floor(l_quantity * 100)) AS BIGINT) AS qty_cents,
        |  CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS price_cents
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q194_rubix_compact" ->
      """SELECT l_returnflag, count(1) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(sum(floor(l_quantity * 100)) AS BIGINT) AS qty_cents,
        |  CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS price_cents
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q103_profile" -> Seq("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus")
      .map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n")
    // q104_hll_mv: DataSketches HLL estimates are implementation-defined →
    // rows-only check; IncrementalSpec bounds the estimates vs exact counts
  )
}
