package graft.script.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.script.ScriptEngine.UserOperator

/** Shipped UserOperator classes exposing the corpus-curation surface to
  * scripts through the `OPERATOR 'class' input (params)` mechanism (the
  * reference's USER_DEFINED_TUPLE_OPERATOR plug-in point,
  * operator/OperatorType.java:59-60) — so a script-only user can run the
  * quality-filter / sample / scrub pipeline without touching the Scala DSL.
  */

/** Quality + language filter: keep docs with ≥ minTokens tokens, alpha
  * ratio > minAlpha, and (optionally) a predicted language.
  * Params: minTokens (default 10), minAlpha (default 0.5), lang (optional).
  */
class QualityFilter extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val minTokens = params.getOrElse("minTokens", "10").toLong
    val minAlpha = params.getOrElse("minAlpha", "0.5").toDouble
    // fence: the screen predicate must read the computed columns, not be
    // pushed into the feature projection and re-derive them per row
    // (plans/PushdownBarrier.scala); raw-column predicates a script FILTER
    // adds later still cross toward the scan (PushThroughBarrier)
    val base = graft.plans.PushdownBarrier(graft.text.TextAnalysis.withLangId(
      graft.text.TextAnalysis.withQualityFeatures(inputs.head)))
    val filtered = base.filter(col("n_tokens") >= minTokens && col("alpha_ratio") > minAlpha)
    params.get("lang").fold(filtered)(l => filtered.filter(col("lang_pred") === l))
  }
}

/** Deterministic hash sample. Params: key (column, default doc_id),
  * fraction (required), salt (default "smp").
  */
class HashSample extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.hashSample(inputs.head,
      col(params.getOrElse("key", "doc_id")),
      params("fraction").toDouble,
      params.getOrElse("salt", "smp"))
}

/** PII scrub: adds n_emails/n_phones/n_ipv4 and replaces the text column
  * with its redacted form. Params: text (column, default "text").
  */
class PiiScrub extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val textCol = params.getOrElse("text", "text")
    graft.text.TextAnalysis.withPiiScrub(inputs.head, textCol)
      .drop(textCol)
      .withColumnRenamed("text_redacted", textCol)
  }
}

/** Incremental novelty screen: rows of the FIRST input (the new batch)
  * whose exact token fingerprint does not occur in the SECOND input (the
  * existing corpus); the batch bloom prunes the corpus scan, a left-anti
  * join resolves exactly. Params: expectedBatchDocs (default 10000000),
  * fpp (0.03), text ("text"), id ("doc_id").
  */
class NoveltyFilter extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "NoveltyFilter needs (batch, corpus) inputs")
    graft.dedup.Dedup.noveltyFilter(inputs(0), inputs(1),
      params.getOrElse("expectedBatchDocs", "10000000").toLong,
      params.getOrElse("fpp", "0.03").toDouble,
      params.getOrElse("text", "text"),
      params.getOrElse("id", "doc_id"))
  }
}

/** N-gram LM quality scoring for scripts: fit the add-one-smoothed model
  * on the SECOND input (reference corpus), score the FIRST. Emits doc_id,
  * n_ngrams, n_oov, sum_pq, avg_logp; filter downstream on avg_logp (or
  * the bit-stable sum_pq/n_ngrams ratio). Params: n (2), text ("text"),
  * id ("doc_id").
  */
class LmScore extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "LmScore needs (corpus, reference) inputs")
    val lm = graft.text.NgramLm.fit(inputs(1),
      params.getOrElse("n", "2").toInt, params.getOrElse("text", "text"))
    graft.text.NgramLm.score(inputs(0), lm,
      params.getOrElse("text", "text"), params.getOrElse("id", "doc_id"))
  }
}

/** Build the persistable MinHash band index of a corpus: one row per
  * (doc, band) with its bucket — STORE it (bucketed/z-ordered by
  * (band, bucket)) and join later batches against it with [[MinHashMatch]]
  * instead of re-signing the corpus per batch.
  * Params: shingleN (3), k (16), bands (4), text ("text"), id ("doc_id").
  */
class MinHashIndex extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.dedup.Dedup.minHashIndex(inputs.head,
      params.getOrElse("shingleN", "3").toInt,
      params.getOrElse("k", "16").toInt,
      params.getOrElse("bands", "4").toInt,
      params.getOrElse("text", "text"),
      params.getOrElse("id", "doc_id"))
}

/** Incremental near-dup candidates: band the FIRST input (the new batch)
  * and join it against the SECOND (a [[MinHashIndex]] output, typically
  * LOADed back from storage) → (batch_id, corpus_id) pairs. Banding params
  * must match the index build.
  */
class MinHashMatch extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "MinHashMatch needs (batch, index) inputs")
    graft.dedup.Dedup.minHashLshAgainstIndex(inputs(0), inputs(1),
      params.getOrElse("shingleN", "3").toInt,
      params.getOrElse("k", "16").toInt,
      params.getOrElse("bands", "4").toInt,
      params.getOrElse("text", "text"),
      params.getOrElse("id", "doc_id"))
  }
}

/** Verified incremental near-dups: [[MinHashMatch]] candidates resolved
  * to exact Jaccard ≥ threshold. Inputs: (batch, index, corpus) — the
  * corpus is semi-join-pruned to the touched documents before its text is
  * shingled. Params: threshold (0.8) + the [[MinHashIndex]] banding params.
  */
class MinHashVerify extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 3, "MinHashVerify needs (batch, index, corpus) inputs")
    graft.dedup.Dedup.minHashDedupAgainstIndex(inputs(0), inputs(1), inputs(2),
      params.getOrElse("shingleN", "3").toInt,
      params.getOrElse("k", "16").toInt,
      params.getOrElse("bands", "4").toInt,
      params.getOrElse("threshold", "0.8").toDouble,
      params.getOrElse("text", "text"),
      params.getOrElse("id", "doc_id"))
  }
}

/** TF-IDF-style salient terms: the top-k tf/df-scored tokens per document.
  * Params: k (default 5), text ("text"), id ("doc_id").
  */
class TopTerms extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.text.TextAnalysis.topTerms(inputs.head,
      params.getOrElse("k", "5").toInt,
      params.getOrElse("text", "text"),
      params.getOrElse("id", "doc_id"))
}

/** Model-based quality filter: train logistic regression on the SECOND
  * input (labeled vectors), keep rows of the FIRST input scoring >=
  * threshold. Params: label (expression over the labeled input, required),
  * dim (vector width, required), threshold (default 0.5), iters (30),
  * vec ("embedding").
  */
class ClassifierFilter extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "ClassifierFilter needs (corpus, labeled) inputs")
    graft.similarity.Classifier.qualityFilter(inputs(0), inputs(1),
      expr(params("label")),
      params("dim").toInt,
      params.getOrElse("threshold", "0.5").toDouble,
      params.getOrElse("iters", "30").toInt,
      params.getOrElse("vec", "embedding"))
  }
}

/** IVF-PQ tuning sweep: recall@k against exact L2 ground truth for every
  * (m, nprobe) combination — the user-visible loop for picking the
  * quality/cost point of the ANN index (more subspaces / probes = higher
  * recall, bigger codes / larger search). Ground truth and the coarse
  * quantizer are built once; each combination trains its codebooks and
  * searches only the probed cells. Params: k (default 10), cells (4),
  * queries (5 — vec_id < this are the query set), codebook_k (16),
  * iters (3), m_values ("4,8"), nprobe_values ("1,2,4"),
  * residual ("true": FAISS-style residual encoding), vec ("embedding"),
  * id ("vec_id"). Output: (m, nprobe, recall) with recall = mean
  * recall@k over the query set.
  */
class AnnRecallSweep extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    import graft.similarity.{Pq, Similarity}
    val emb = inputs.head
    val spark = emb.sparkSession
    import spark.implicits._
    val idCol = params.getOrElse("id", "vec_id")
    val vecCol = params.getOrElse("vec", "embedding")
    val topK = params.getOrElse("k", "10").toInt
    val cells = params.getOrElse("cells", "4").toInt
    val nQueries = params.getOrElse("queries", "5").toLong
    val kc = params.getOrElse("codebook_k", "16").toInt
    val iters = params.getOrElse("iters", "3").toInt
    val ms = params.getOrElse("m_values", "4,8").split(",").map(_.trim.toInt).toSeq
    val nps = params.getOrElse("nprobe_values", "1,2,4").split(",").map(_.trim.toInt).toSeq
    val residual = params.getOrElse("residual", "true").toBoolean
    val queries = emb.filter(col(idCol) < nQueries)
    val exact = Pq.exactL2TopK(emb, queries, topK, idCol, vecCol).persist()
    val cents = Similarity.kmeansFit(emb, cells, iters, idCol, vecCol)
    val rows = ms.flatMap { m =>
      val books =
        if (residual)
          Pq.pqTrain(Pq.residualFrame(emb, cents, idCol, vecCol),
            m, kc, iters, idCol, "residual")
        else Pq.pqTrain(emb, m, kc, iters, idCol, vecCol)
      val index = Pq.ivfPqEncode(emb, cents, books, idCol, vecCol, residual)
      nps.map { np =>
        val approx = Pq.ivfPqTopK(index, books, cents, queries, topK, np,
          idCol, vecCol, residual, indexIdCol = idCol)
        val recall = Pq.recallAtK(approx, exact)
          .filter(col("query_id") === "__mean")
          .head().getDouble(1)
        (m, np, recall)
      }
    }
    exact.unpersist()
    rows.toDF("m", "nprobe", "recall")
  }
}

/** PCA whitening for scripts: fit on the input frame (or a hash sample of
  * it) and append the k-wide projection column. Params: dim (required),
  * k (default dim), whiten ("true"), vec ("embedding"), out ("pca"),
  * sampleFraction (optional — fit on a deterministic hash sample, then
  * transform everything; the 100 TB pattern).
  */
class PcaWhiten extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val df = inputs.head
    val dim = params("dim").toInt
    val k = params.getOrElse("k", params("dim")).toInt
    val vec = params.getOrElse("vec", "embedding")
    val fitOn = params.get("sampleFraction").fold(df)(f =>
      graft.operators.Sampling.hashSample(df, col(params.getOrElse("id", "vec_id")),
        f.toDouble, "pca"))
    val model = graft.similarity.Pca.fit(fitOn, dim, vec)
    graft.similarity.Pca.transform(df, model, k,
      whiten = params.getOrElse("whiten", "true").toBoolean,
      vecCol = vec, outCol = params.getOrElse("out", "pca"))
  }
}

/** Softmax multiclass classification for scripts: train on the SECOND
  * input (labeled), score the FIRST (corpus) with per-class probabilities
  * and the argmax class. Params: label (expression over the labeled frame,
  * required), classes (required), dim (required), iters (30), lr (0.5),
  * vec ("embedding"), out ("predicted_class").
  */
class SoftmaxClassify extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "SoftmaxClassify needs (corpus, labeled) inputs")
    val (w, b) = graft.similarity.Classifier.softmaxFit(inputs(1),
      expr(params("label")), params("classes").toInt, params("dim").toInt,
      params.getOrElse("iters", "30").toInt,
      params.getOrElse("lr", "0.5").toDouble,
      vecCol = params.getOrElse("vec", "embedding"))
    graft.similarity.Classifier.scoreSoftmax(inputs(0), w, b,
      params.getOrElse("vec", "embedding"),
      params.getOrElse("out", "predicted_class"))
  }
}

/** Stupid-backoff LM scoring for scripts: fit on the SECOND input
  * (reference corpus), score the FIRST. Emits doc_id, n_ngrams,
  * n_backoff, sum_sq, avg_logs (see NgramLm.scoreBackoff). Params:
  * n (2), text ("text"), id ("doc_id").
  */
class LmBackoffScore extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "LmBackoffScore needs (corpus, reference) inputs")
    val bm = graft.text.NgramLm.fitBackoff(inputs(1),
      params.getOrElse("n", "2").toInt, params.getOrElse("text", "text"))
    graft.text.NgramLm.scoreBackoff(inputs(0), bm,
      params.getOrElse("text", "text"), params.getOrElse("id", "doc_id"))
  }
}

/** BM25 relevance for scripts: index the input corpus and rank its
  * documents against a keyword profile.
  * Params: terms (comma-separated, required),
  * k (top-k; 0 or absent = score all matches, no rank column), k1 (1.2),
  * b (0.75), text ("text"), id ("doc_id").
  */
class Bm25Rank extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val terms = params("terms").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val idx = graft.text.Search.bm25Index(inputs.head,
      params.getOrElse("text", "text"), params.getOrElse("id", "doc_id"))
    val k1 = params.getOrElse("k1", "1.2").toDouble
    val b = params.getOrElse("b", "0.75").toDouble
    params.get("k").map(_.toInt).filter(_ > 0) match {
      case Some(k) => graft.text.Search.bm25TopK(idx, terms, k, k1, b)
      case None => graft.text.Search.bm25Score(idx, terms, k1, b)
    }
  }
}

/** Brute-force cosine ANN ranking for scripts: rank the FIRST input
  * (corpus embeddings) against the query vectors in the SECOND input
  * (typically a tiny filtered frame) — emits (query_id, neighbor_id,
  * cosine, rank). Params: k (10), id ("vec_id"), vec ("embedding").
  */
class AnnRank extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "AnnRank needs (corpus, queries) inputs")
    graft.similarity.Similarity.bruteForceTopK(inputs(0), inputs(1),
      params.getOrElse("k", "10").toInt,
      params.getOrElse("id", "vec_id"), params.getOrElse("vec", "embedding"))
  }
}

/** Reciprocal-rank fusion for scripts: fuse any number of input rankings
  * (each with an `id` column and a `rank` column) into one hybrid ranking
  * — emits (id, rrf_q, n_lists, rank). Params: rrfK (60), id ("doc_id").
  */
class RrfFuse extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.nonEmpty, "RrfFuse needs at least one ranking input")
    graft.text.Search.rrfFuse(inputs,
      params.getOrElse("rrfK", "60").toInt, params.getOrElse("id", "doc_id"))
  }
}

/** DSIR-style importance weighting for scripts: score the FIRST input by
  * target-vs-background LM mass difference, fitting the target model on
  * the SECOND input and the background model on the THIRD. Emits doc_id,
  * n_ngrams, sum_pq_target, sum_pq_background, weight_q, avg_logratio.
  * Params: n (2), text ("text"), id ("doc_id").
  */
class DsirWeight extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 3, "DsirWeight needs (corpus, target, background) inputs")
    val n = params.getOrElse("n", "2").toInt
    val text = params.getOrElse("text", "text")
    val tgt = graft.text.NgramLm.fit(inputs(1), n, text)
    val bkg = graft.text.NgramLm.fit(inputs(2), n, text)
    graft.text.NgramLm.importanceScore(inputs(0), tgt, bkg,
      text, params.getOrElse("id", "doc_id"))
  }
}

/** Per-domain quota cap for scripts: keep at most quota(key) rows per key
  * (SECOND input = (key, quota) table), best-first by the order columns.
  * Params: key ("source"), order (comma-separated columns, each with an
  * optional :desc suffix; default "n_chars:desc,doc_id"), defaultQuota
  * (required), quota ("quota").
  */
class CapPerKey extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    require(inputs.length == 2, "CapPerKey needs (rows, quotas) inputs")
    val order = params.getOrElse("order", "n_chars:desc,doc_id").split(",").toSeq
      .map(_.trim).map { s =>
        if (s.endsWith(":desc")) col(s.stripSuffix(":desc")).desc else col(s).asc
      }
    graft.operators.Sampling.capPerKey(inputs(0),
      params.getOrElse("key", "source"), order, inputs(1),
      params("defaultQuota").toLong, params.getOrElse("quota", "quota"))
  }
}

/** Importance-weighted acceptance sampling for scripts: keep each row with
  * probability = the weight column (clamped to [0,1]), hash-decided.
  * Params: key ("doc_id"), weight (required, a column name), salt ("wsmp").
  */
class WeightedSample extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.weightedHashSample(inputs.head,
      col(params.getOrElse("key", "doc_id")), col(params("weight")),
      params.getOrElse("salt", "wsmp"))
}

/** Gopher most-common-word rule for scripts: per-doc top token, its count,
  * and its fraction of all tokens. Params: text ("text"), id ("doc_id").
  */
class TopTokenStats extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.text.TextAnalysis.topTokenStats(inputs.head,
      params.getOrElse("text", "text"), params.getOrElse("id", "doc_id"))
}

/** Quality-preferring dedup survivors for scripts: cluster near-dups
  * (MinHash-LSH → exact verify → connected components) and keep
  * the best row per cluster by the score column (ties → smallest id).
  * Params: score (required, a column name), shingleN (3), k (16),
  * bands (4), threshold (0.8), text ("text"), id ("doc_id").
  */
class DedupKeepBest extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val docs = inputs.head
    val text = params.getOrElse("text", "text")
    val id = params.getOrElse("id", "doc_id")
    val clusters = graft.dedup.Dedup.dupClusters(
      graft.dedup.Dedup.minHashDedup(docs,
        params.getOrElse("shingleN", "3").toInt,
        params.getOrElse("k", "16").toInt,
        params.getOrElse("bands", "4").toInt,
        params.getOrElse("threshold", "0.8").toDouble, text, id))
    graft.dedup.Dedup.survivorsBy(docs, clusters, col(params("score")), id)
  }
}

/** Paragraph-level exact dedup for scripts (CCNet shape): keep the
  * corpus-wide first occurrence of every distinct non-blank paragraph and
  * reassemble documents from the survivors. Emits (id, n_paras_kept,
  * text_dedup). Params: text ("text"), id ("doc_id").
  */
class ParagraphDedup extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.dedup.Dedup.paragraphDedup(inputs.head,
      params.getOrElse("text", "text"), params.getOrElse("id", "doc_id"))
}

/** SemDeDup for scripts: cluster-bounded semantic dedup over an embedding
  * column. With TWO inputs the second is a (centroid_id, cvec) table;
  * with one, k-means centroids are fit in-line (params k, iters).
  * Params: threshold (required), id ("vec_id"), vec ("embedding"),
  * k (64), iters (3).
  */
class SemDedup extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val idCol = params.getOrElse("id", "vec_id")
    val vecCol = params.getOrElse("vec", "embedding")
    val cents =
      if (inputs.length >= 2) inputs(1)
      else graft.similarity.Similarity.kmeansFit(inputs.head,
        params.getOrElse("k", "64").toInt, params.getOrElse("iters", "3").toInt,
        idCol, vecCol).select(col("centroid_id"),
          col("cvec").cast("array<float>").as("cvec"))
    graft.dedup.Dedup.semDedup(inputs.head, cents,
      params("threshold").toDouble, idCol, vecCol,
      params.getOrElse("maxCellSize", "10000").toInt,
      params.getOrElse("nPlanes", "16").toInt,
      params.getOrElse("bands", "4").toInt)
  }
}

/** Deterministic training-order export for scripts: a reproducible
  * pseudorandom contiguous position per row (bucket-offset + in-bucket
  * rank — no single-task global sort). Params: key ("doc_id"),
  * salt ("shuf"), buckets (4096), out ("pos").
  */
class DetShuffle extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.deterministicShuffle(inputs.head,
      col(params.getOrElse("key", "doc_id")), params.getOrElse("salt", "shuf"),
      params.getOrElse("buckets", "4096").toInt, params.getOrElse("out", "pos"))
}

/** KMV approximate distinct count for scripts: deterministic mergeable
  * bottom-k sketch + estimate in one step. Params: key (required),
  * group (comma-separated group columns, optional → whole-relation),
  * k (64), salt ("kmv").
  */
class KmvDistinct extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val groups = params.get("group").map(_.split(",").toSeq.map(s => col(s.trim)))
      .getOrElse(Seq.empty)
    graft.operators.Sketches.kmvDistinct(inputs.head, col(params("key")), groups,
      params.getOrElse("k", "64").toInt, params.getOrElse("salt", "kmv"))
  }
}

/** Count-min sketch build for scripts: (d, bucket, cnt) cell relation,
  * ≤ depth·width rows. STORE it and probe later with CmsQuery (same
  * depth/width/salt). Params: term (required), depth (4), width (1024),
  * salt ("cms"), weight (optional column).
  */
class CmsBuild extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.cmsBuild(inputs.head, col(params("term")),
      params.getOrElse("depth", "4").toInt, params.getOrElse("width", "1024").toInt,
      params.getOrElse("salt", "cms"),
      params.get("weight").map(col).getOrElse(lit(1L)))
}

/** Count-min sketch query for scripts: inputs = (sketch, probes); emits
  * (term, est_count) per distinct probe term. Params: term (required),
  * depth (4), width (1024), salt ("cms") — must match the build.
  */
class CmsQuery extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.cmsQuery(inputs.head, inputs(1), col(params("term")),
      params.getOrElse("depth", "4").toInt, params.getOrElse("width", "1024").toInt,
      params.getOrElse("salt", "cms"))
}

/** Mixture plan for scripts: token-budget allocation by stratum share.
  * Params: stratum (required), size (required token-count column),
  * budget (required long), tau (optional — temperature-flattened variant).
  */
class MixturePlan extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val st = col(params("stratum")); val sz = col(params("size"))
    val budget = params("budget").toLong
    params.get("tau") match {
      case Some(t) => graft.operators.Sampling
        .mixturePlanTemperature(inputs.head, st, sz, budget, t.toDouble)
      case None => graft.operators.Sampling.mixturePlan(inputs.head, st, sz, budget)
    }
  }
}

/** Mixture take for scripts: EXECUTES a mixture plan — inputs = (corpus,
  * plan with (stratum, alloc_tokens)); deterministic hash-order take per
  * stratum, two-phase so no hot-stratum task. Params: stratum, size, key
  * (all required), salt ("mix"), coarseBuckets (1024).
  */
class MixtureTake extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.mixtureTake(inputs.head,
      col(params("stratum")), col(params("size")), col(params("key")),
      inputs(1).select("stratum", "alloc_tokens"),
      params.getOrElse("salt", "mix"),
      params.getOrElse("coarseBuckets", "1024").toInt)
}

/** Fair epoch interleave for scripts: round-robin training positions
  * across strata so no stratum clumps. Params: stratum, key (required),
  * salt ("ilv"), buckets (1024), out ("pos").
  */
class InterleaveStrata extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.interleaveStrata(inputs.head,
      col(params("stratum")), col(params("key")),
      params.getOrElse("salt", "ilv"), params.getOrElse("buckets", "1024").toInt,
      params.getOrElse("out", "pos"))
}

/** Greedy sequence packing for scripts: fill context windows of `capacity`
  * tokens per group in order. Params: group, order, size (required),
  * capacity (required), shards (optional — sharded variant for hot groups).
  */
class Pack extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val cap = params("capacity").toLong
    params.get("shards") match {
      case Some(s) => graft.operators.Packing.packGreedySharded(inputs.head,
        params("group"), params("order"), params("size"), cap, s.toInt)
      case None => graft.operators.Packing.packGreedy(inputs.head,
        params("group"), params("order"), params("size"), cap)
    }
  }
}

/** Deterministic quantile estimates for scripts: hash-sample sketch +
  * nearest-rank estimate in one step. Params: value (required), key
  * (required row-identifying column), group (comma-separated, optional),
  * qs (comma-separated quantiles, default "0.5,0.9,0.99"), k (256),
  * salt ("qsk").
  */
class QuantileSketch extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val groups = params.get("group").map(_.split(",").toSeq.map(s => s.trim))
      .getOrElse(Seq.empty)
    val k = params.getOrElse("k", "256").toInt
    val sk = graft.operators.Sketches.quantileSketch(inputs.head,
      col(params("value")), col(params("key")), groups.map(col), k,
      params.getOrElse("salt", "qsk"))
    graft.operators.Sketches.quantileEstimate(sk, groups,
      params.getOrElse("qs", "0.5,0.9,0.99").split(",").toSeq.map(_.trim.toDouble))
  }
}

/** SemDeDup cell-index build for scripts: inputs = (corpus, centroids);
  * emits the persistable (id, vec, centroid_id) assignment. STORE it and
  * dedup later batches with SemDedupMatch — the semantic analog of
  * MinHashIndex. Params: id ("vec_id"), vec ("embedding").
  */
class SemDedupIndex extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.dedup.Dedup.semDedupIndex(inputs.head, inputs(1),
      params.getOrElse("id", "vec_id"), params.getOrElse("vec", "embedding"))
}

/** Incremental SemDeDup for scripts: inputs = (batch, index, centroids);
  * drops batch vectors near an indexed corpus vector (corpus wins), then
  * dedups the batch against itself. Params: threshold (required),
  * id ("vec_id"), vec ("embedding"), screenOnly ("false" — set "true"
  * for the corpus-novelty screen without in-batch dedup).
  */
class SemDedupMatch extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val id = params.getOrElse("id", "vec_id")
    val vec = params.getOrElse("vec", "embedding")
    val t = params("threshold").toDouble
    if (params.getOrElse("screenOnly", "false").toBoolean)
      graft.dedup.Dedup.semDedupScreen(inputs.head, inputs(1), inputs(2), t, id, vec)
    else
      graft.dedup.Dedup.semDedupAgainstIndex(inputs.head, inputs(1), inputs(2), t, id, vec)
  }
}

/** Gopher-style quality rules for scripts: emits the rule features plus
  * `keep_gopher`; set keepOnly=true to filter to passing docs. Params:
  * text ("text"), keepOnly ("false"), minWords (50), maxWords (100000),
  * minMeanWordLen (3.0), maxMeanWordLen (10.0), maxSymbolWordRatio (0.1),
  * maxBulletRatio (0.9), maxEllipsisRatio (0.3), minAlphaWordRatio (0.8),
  * minStopHits (2).
  */
class GopherRules extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val out = graft.text.TextAnalysis.withGopherRules(inputs.head,
      params.getOrElse("text", "text"),
      params.getOrElse("minWords", "50").toInt,
      params.getOrElse("maxWords", "100000").toInt,
      params.getOrElse("minMeanWordLen", "3.0").toDouble,
      params.getOrElse("maxMeanWordLen", "10.0").toDouble,
      params.getOrElse("maxSymbolWordRatio", "0.1").toDouble,
      params.getOrElse("maxBulletRatio", "0.9").toDouble,
      params.getOrElse("maxEllipsisRatio", "0.3").toDouble,
      params.getOrElse("minAlphaWordRatio", "0.8").toDouble,
      params.getOrElse("minStopHits", "2").toInt)
    if (params.getOrElse("keepOnly", "false").toBoolean)
      graft.plans.PushdownBarrier(out).filter(col("keep_gopher"))
    else out
  }
}

/** Winnowed (MOSS) fingerprints for scripts: with ONE input, the exploded
  * (id, fp) fingerprint relation (STORE it as a reuse index); with TWO
  * inputs, pairs of the first input sharing >= minShared fingerprints
  * are ignored and the operator screens input 1 against the STORED
  * fingerprint index in input 2 (rows with an indexed fp in common are
  * dropped when screen="drop", kept+flagged when screen="flag").
  * Params: n (4), w (4), text ("text"), id ("doc_id"), screen ("drop").
  */
class WinnowIndex extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val n = params.getOrElse("n", "4").toInt
    val w = params.getOrElse("w", "4").toInt
    val text = params.getOrElse("text", "text")
    val id = params.getOrElse("id", "doc_id")
    val fps = graft.dedup.Dedup.winnowFingerprints(inputs.head, n, w, text, id)
    if (inputs.length < 2) fps
    else {
      val hit = fps.join(inputs(1).select(col("fp")).distinct(), Seq("fp"))
        .select(col(id)).distinct()
      if (params.getOrElse("screen", "drop") == "flag")
        inputs.head.join(hit.withColumn("fp_hit", lit(true)), Seq(id), "left")
          .withColumn("fp_hit", coalesce(col("fp_hit"), lit(false)))
      else inputs.head.join(hit, Seq(id), "left_anti")
    }
  }
}

/** Winnow overlap join for scripts: pairs of documents sharing >=
  * minShared winnowed fingerprints, with the overlap coefficient.
  * Params: n (4), w (4), minShared (2), text ("text"), id ("doc_id"),
  * maxDocsPerFp (optional hot-fingerprint cap).
  */
class WinnowOverlap extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.dedup.Dedup.winnowOverlapJoin(inputs.head,
      params.getOrElse("n", "4").toInt,
      params.getOrElse("w", "4").toInt,
      params.getOrElse("minShared", "2").toInt,
      params.getOrElse("text", "text"),
      params.getOrElse("id", "doc_id"),
      params.get("maxDocsPerFp").map(_.toInt))
}

/** Bloom filter build for scripts: a deterministic (word, bits) membership
  * sketch over a key column — STORE it and probe from later scripts.
  * Params: key (required), numBits (65536), hashes (5), salt ("blm").
  */
class BloomBuild extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.bloomBuild(inputs.head, col(params("key")),
      params.getOrElse("numBits", "65536").toInt,
      params.getOrElse("hashes", "5").toInt,
      params.getOrElse("salt", "blm"))
}

/** Bloom membership probe for scripts: inputs = (sketch, probes); emits
  * (key, may_contain). Shape params must match the build.
  * Params: key (required), numBits (65536), hashes (5), salt ("blm").
  */
class BloomQuery extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.bloomQuery(inputs.head, inputs(1), col(params("key")),
      params.getOrElse("numBits", "65536").toInt,
      params.getOrElse("hashes", "5").toInt,
      params.getOrElse("salt", "blm"))
}

/** URL canonicalization for scripts: adds `url_norm` (and host/domain/path
  * when parts=true) from a URL column. Params: url (default "url"),
  * parts ("false").
  */
class UrlNormalize extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val urlCol = params.getOrElse("url", "url")
    val normed = inputs.head.withColumn("url_norm",
      graft.text.UrlOps.normalizeUrl(col(urlCol)))
    if (params.getOrElse("parts", "false").toBoolean)
      graft.text.UrlOps.withUrlParts(normed, "url_norm")
    else normed
  }
}

/** URL-canonical dedup for scripts: one min-id survivor per normalized
  * URL. Params: url (default "url"), id (default "doc_id").
  */
class UrlDedup extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.text.UrlOps.dedupByUrl(inputs.head,
      params.getOrElse("url", "url"), params.getOrElse("id", "doc_id"))
}

/** KMV set operations for scripts: inputs = (sketchA, sketchB) from
  * KmvDistinct-compatible kmvSketch relations joined by the caller, OR a
  * single input already carrying two mins columns. Params: minsA
  * ("mins_a"), minsB ("mins_b"), k (64).
  */
class KmvSetOps extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.kmvSetOps(inputs.head,
      params.getOrElse("minsA", "mins_a"), params.getOrElse("minsB", "mins_b"),
      params.getOrElse("k", "64").toInt)
}

/** Time-series gap fill for scripts: step-grid densification with
  * fill-forward. Params: key (comma-separated, required), ts (required
  * numeric time column), value (required), step (required long),
  * tieBreak (required unique column).
  */
class GapFill extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.WindowOps.gapFill(inputs.head,
      params("key").split(",").toSeq.map(_.trim), params("ts"),
      params("value"), params("step").toLong, params("tieBreak"))
}

/** Sketch-driven winsorization for scripts: clip a numeric column into
  * per-group quantile bounds. Params: value (required), key (required
  * row-id column), group (comma-separated, optional), lo (0.05),
  * hi (0.95), k (256), salt ("qsk").
  */
class Winsorize extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.winsorize(inputs.head, params("value"),
      col(params("key")),
      params.get("group").map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq.empty),
      params.getOrElse("lo", "0.05").toDouble,
      params.getOrElse("hi", "0.95").toDouble,
      params.getOrElse("k", "256").toInt, params.getOrElse("salt", "qsk"))
}

/** Rolling statistics + z-score anomaly flag for scripts (run after
  * GapFill). Params: key (comma-separated, required), order (required),
  * value (required integer-quantized column), window (required),
  * zThreshold (3.0).
  */
class RollingStats extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.WindowOps.rollingStats(inputs.head,
      params("key").split(",").toSeq.map(_.trim), params("order"),
      params("value"), params("window").toInt,
      params.getOrElse("zThreshold", "3.0").toDouble)
}

/** Strictly-ordered funnel for scripts. Params: key (required), ts
  * (required numeric), steps (required SEMICOLON-separated SQL predicates
  * — predicates may contain commas, e.g.
  * "event_type = 'view'; event_type IN ('click', 'tap')").
  */
class Funnel extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.funnel(inputs.head, params("key"), params("ts"),
      params("steps").split(";").toSeq.map(p => expr(p.trim)))
}

/** Cohort retention matrix for scripts. Params: key (required), ts
  * (required numeric microseconds), dayUs (86400000000).
  */
class Retention extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.retention(inputs.head, params("key"), params("ts"),
      params.getOrElse("dayUs", "86400000000").toLong)
}

/** Welch A/B z-test for scripts. Params: variant (required), value
  * (required integer-quantized column).
  */
class AbTest extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.abTest(inputs.head, params("variant"), params("value"))
}

/** Event-state transition matrix for scripts. Params: key, ts, state,
  * tieBreak (all required).
  */
class Transitions extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.transitions(inputs.head, params("key"),
      params("ts"), params("state"), params("tieBreak"))
}

/** REAL image probe for scripts (pure-JDK decode): (id, decodable, width,
  * height) per payload row. Params: id (default "doc_id").
  */
class ImageProbe extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Images.probeImages(inputs.head, params.getOrElse("id", "doc_id"))
}

/** REAL image features for scripts: normalized luminance histograms.
  * Params: id (default "doc_id"), bins (32).
  */
class ImageFeatures extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Images.imageFeatures(inputs.head,
      params.getOrElse("id", "doc_id"), params.getOrElse("bins", "32").toInt)
}

/** REAL image resize for scripts: decode → bilinear rescale → re-encode
  * PNG, metadata updated. Params: width, height (required).
  */
class ImageResize extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Images.resizeImages(inputs.head,
      params("width").toInt, params("height").toInt)
}

/** REAL audio probe for scripts (pure-JDK javax.sound decode): (id,
  * decodable, channels, sample_rate, n_frames, duration_ms) per payload
  * row. Params: id (default "doc_id").
  */
class AudioProbe extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Audio.probeAudio(inputs.head, params.getOrElse("id", "doc_id"))
}

/** REAL audio features for scripts: windowed RMS energy envelopes.
  * Params: id (default "doc_id"), windows (32).
  */
class AudioFeatures extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Audio.audioFeatures(inputs.head,
      params.getOrElse("id", "doc_id"), params.getOrElse("windows", "32").toInt)
}

/** REAL video probe for scripts (MJPEG-in-AVI, pure JDK): (id, decodable,
  * width, height, n_frames, duration_ms) per payload row from the RIFF
  * container. Params: id (default "doc_id").
  */
class VideoProbe extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Video.probeVideos(inputs.head, params.getOrElse("id", "doc_id"))
}

/** REAL video features for scripts: mean per-frame luminance histogram
  * over sampled MJPEG frames, through the MediaDecoder SPI — pass
  * `decoder` to swap in a production codec class without touching the
  * pipeline. Params: id (default "doc_id"), dim (32), decoder
  * (graft.multimodal.MjpegAviDecoder).
  */
class VideoFeatures extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Multimodal.extractFeatures(inputs.head,
      params.getOrElse("id", "doc_id"), params.getOrElse("dim", "32").toInt,
      params.getOrElse("decoder", classOf[graft.multimodal.MjpegAviDecoder].getName))
}

/** Frame sampling for scripts: up to n (id, frame_idx, frame_bytes) rows
  * per video payload through the same SPI. Params: id (default "doc_id"),
  * n (4), decoder (graft.multimodal.MjpegAviDecoder).
  */
class FrameSample extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Multimodal.frameSample(inputs.head,
      params.getOrElse("id", "doc_id"), params.getOrElse("n", "4").toInt,
      params.getOrElse("decoder", classOf[graft.multimodal.MjpegAviDecoder].getName))
}

/** Interval-concurrency sweep for scripts: (t, net, concurrent) at every
  * boundary, two-phase bucketed cumsum. Params: start, end (required),
  * buckets (1024).
  */
class Concurrency extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.concurrency(inputs.head, params("start"),
      params("end"), params.getOrElse("buckets", "1024").toInt,
      params.get("group").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
}

/** Skyline / Pareto frontier for scripts: rows not dominated on the given
  * dimensions. Params: max and/or min (comma-separated column lists),
  * bins (8).
  */
class Skyline extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    def cols(p: String) =
      params.get(p).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    graft.operators.Relational.skyline(inputs.head, cols("max"), cols("min"),
      params.getOrElse("bins", "8").toInt)
  }
}

/** Edit-distance join for scripts (FastSS deletion-variant blocking, no
  * false negatives): emits (id_a, id_b, dist) with dist ≤ k. Params:
  * key (required), k (1), id ("doc_id").
  */
class EditJoin extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Joins.editDistanceJoin(inputs.head,
      params.getOrElse("k", "1").toInt, col(params("key")),
      params.getOrElse("id", "doc_id"))
}

/** Duplicate clustering for scripts: connected components over match
  * pairs ([[graft.dedup.Dedup.dupClusters]]); emits (doc_id, cluster =
  * component min).
  * Params: a ("id_a"), b ("id_b").
  */
class DupClusters extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.dedup.Dedup.dupClusters(inputs.head,
      params.getOrElse("a", "id_a"), params.getOrElse("b", "id_b"))
}

/** Best-copy survivor selection for scripts over PRE-BUILT clusters:
  * inputs = (rows, clusters); keeps the top-scored row per cluster plus
  * every unclustered row. Params: score (required), id ("doc_id"),
  * cluster ("cluster").
  */
class SurvivorsBy extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.dedup.Dedup.survivorsBy(inputs(0), inputs(1), col(params("score")),
      params.getOrElse("id", "doc_id"), params.getOrElse("cluster", "cluster"))
}

/** Per-key least-squares trend for scripts: (keys..., n, slope,
  * intercept) from exact integer moments. Params: keys, x, y (required).
  */
class LinearTrend extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Aggregations.linearTrend(inputs.head,
      params("keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      params("x"), params("y"))
}

/** Recency-decayed counts for scripts: (keys..., decayed) with exact
  * dyadic 2^−age weights; pass 'value' to get decayedStats' weighted
  * (decayed_n, decayed_sum, ewm) instead. Params: keys, ts, now,
  * halfLife (required), value (optional).
  */
class DecayedCounts extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val keys = params("keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    params.get("value") match {
      case Some(v) => graft.operators.WindowOps.decayedStats(inputs.head,
        keys, params("ts"), v, params("now").toLong, params("halfLife").toLong)
      case None => graft.operators.WindowOps.decayedCounts(inputs.head,
        keys, params("ts"), params("now").toLong, params("halfLife").toLong)
    }
  }
}

/** Conversion attribution for scripts: inputs = (touches, conversions);
  * emits (conv_id, touch_id, credit). Params: key, touchId, touchTs,
  * convId, convTs, lookback (required), model ("linear"|"first"|"last",
  * default "linear").
  */
class Attribution extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.attribution(inputs(0), inputs(1),
      params("key"), params("touchId"), params("touchTs"),
      params("convId"), params("convTs"), params("lookback").toLong,
      params.getOrElse("model", "linear"))
}

/** CDC snapshot diff for scripts: inputs = (old, new); emits (keys...,
  * status ∈ added/removed/changed/unchanged). Params: keys (required,
  * comma-separated), compare (optional comma-separated; defaults to all
  * shared non-key columns).
  */
class SnapshotDiff extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    def cols(p: String) =
      params.get(p).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    graft.operators.Incremental.snapshotDiff(inputs(0), inputs(1),
      cols("keys"), cols("compare"))
  }
}

/** Chi-square independence test for scripts: one (chi2, dof, n,
  * cramers_v) row for two categorical columns. Params: a, b (required).
  */
class ChiSquare extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.chiSquare(inputs.head, params("a"), params("b"))
}

/** Percent-rank normalization for scripts: input plus a [0,1] `prank`
  * column with SQL percent_rank semantics (ties share). Params: value
  * (required), buckets (1024), out ("prank").
  */
class PercentRank extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.percentRank(inputs.head, params("value"),
      params.getOrElse("buckets", "1024").toInt,
      params.getOrElse("out", "prank"),
      params.get("group").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
}

/** MAD robust outlier flags for scripts: input plus (med, mad,
  * is_outlier), both statistics sketch-driven and reproducible. Params:
  * value, key (required), group (comma-separated, optional), cutoff (3.0),
  * k (256).
  */
class MadOutliers extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.madOutliers(inputs.head, params("value"),
      col(params("key")),
      params.get("group").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      params.getOrElse("cutoff", "3.0").toDouble,
      params.getOrElse("k", "256").toInt)
}

/** Hashing-trick feature vectors for scripts: sparse (id, idx, w) term-
  * frequency buckets; set 'dense': 'true' to assemble (id, features)
  * Array[Float] rows for the ANN/k-means layer. Params: dim (required),
  * text ("text"), id ("doc_id"), salt ("fh"), dense ("false").
  */
class FeatureHash extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val dim = params("dim").toInt
    val id = params.getOrElse("id", "doc_id")
    val sparse = graft.text.TextAnalysis.featureHash(inputs.head, dim,
      params.getOrElse("text", "text"), id, params.getOrElse("salt", "fh"))
    if (params.get("dense").contains("true"))
      graft.text.TextAnalysis.toDenseFeatures(sparse, dim, id)
    else sparse
  }
}

/** CMS join-size estimate for scripts: input 1 and 2 are cmsBuild sketch
  * tables with identical (depth, width, salt); emits one
  * (est_join_size) row. No params.
  */
class CmsJoinSize extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.cmsJoinSize(inputs(0), inputs(1))
}

/** Single-pass ordered funnel for scripts — same contract as [[Funnel]],
  * one event-table scan. Params: key, ts, steps ('pred1; pred2; …').
  */
class FunnelSinglePass extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.funnelSinglePass(inputs.head, params("key"),
      params("ts"), params("steps").split(";").toSeq.map(p => expr(p.trim)))
}

/** Seasonal (periodic-baseline) anomaly detection for scripts. Params:
  * keys (comma-separated), ts (numeric micros), value (integer-quantized),
  * period (86400000000), bucket (3600000000), cutoff (3.0), minN (2).
  */
class SeasonalAnomalies extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.seasonalAnomalies(inputs.head,
      params("keys").split(",").toSeq.map(_.trim), params("ts"), params("value"),
      params.getOrElse("period", "86400000000").toLong,
      params.getOrElse("bucket", "3600000000").toLong,
      params.getOrElse("cutoff", "3.0").toDouble,
      params.getOrElse("minN", "2").toLong)
}

/** Exact time-weighted average for scripts. Params: keys (comma-separated),
  * start, end (numeric micros), value (integer-quantized).
  */
class TimeWeightedAvg extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.timeWeightedAvg(inputs.head,
      params("keys").split(",").toSeq.map(_.trim),
      params("start"), params("end"), params("value"))
}

/** Cross-source quantile normalization for scripts. Params: value, key
  * (hash identity for the sketch), groups (comma-separated), nQ (100),
  * k (1024), salt (qm).
  */
class QuantileMatch extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sketches.quantileMatch(inputs.head, params("value"),
      params("key"), params("groups").split(",").toSeq.map(_.trim),
      params.getOrElse("nQ", "100").toInt,
      params.getOrElse("k", "1024").toInt,
      params.getOrElse("salt", "qm"))
}

/** Deterministic contrastive negative sampling for scripts: input 1 =
  * anchors, input 2 = corpus. Params: anchorId, candId, k, buckets (64),
  * salt (neg).
  */
class NegativeSample extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Sampling.negativeSample(inputs(0), inputs(1),
      params("anchorId"), params("candId"), params("k").toInt,
      params.getOrElse("buckets", "64").toInt,
      params.getOrElse("salt", "neg"))
}

/** CUSUM drift detection for scripts. Params: keys (comma-separated), ts,
  * value (integer-quantized), tieBreak.
  */
class CusumDrift extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Behavior.cusumDrift(inputs.head,
      params("keys").split(",").toSeq.map(_.trim), params("ts"),
      params("value"), params("tieBreak"))
}

/** Margin-criterion bitext mining for scripts: input 1 = source corpus,
  * input 2 = target corpus (both (id, embedding)). Params: k,
  * threshold (1.0), id (vec_id), vec (embedding).
  */
class MarginMine extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.similarity.Similarity.marginMine(inputs(0), inputs(1),
      params("k").toInt, params.getOrElse("threshold", "1.0").toDouble,
      params.getOrElse("id", "vec_id"), params.getOrElse("vec", "embedding"))
}

/** Per-cell diverse representative selection for scripts: input 1 =
  * corpus, input 2 = centroid table (centroid_id, cvec). Params: id
  * (vec_id), vec (embedding).
  */
class DiverseSelect extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.similarity.Similarity.diverseSelect(inputs(0), inputs(1),
      params.getOrElse("id", "vec_id"), params.getOrElse("vec", "embedding"))
}

/** Perceptual image near-dup pairs for scripts over (id, payload).
  * Params: id, maxHamming (7).
  */
class ImageNearDup extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.multimodal.Images.imageNearDup(inputs.head, params("id"),
      params.getOrElse("maxHamming", "7").toInt)
}

/** Sorted-neighborhood blocking for scripts. Params: id, block (column
  * expr), sort (column expr), window.
  */
class SortedNeighborhood extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.operators.Joins.sortedNeighborhood(inputs.head, params("id"),
      expr(params("block")), expr(params("sort")), params("window").toInt)
}

/** K-center greedy coreset selection for scripts (farthest-first
  * traversal, bit-portable integer arithmetic — see
  * Similarity.kCenterGreedyPortable; one Spark job per pick at any k).
  * Params: k (required), scale (1000000), id (vec_id), vec (embedding).
  */
class KCenterSelect extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame =
    graft.similarity.Similarity.kCenterGreedyPortable(inputs.head,
      params("k").toInt, params.getOrElse("scale", "1000000").toLong,
      params.getOrElse("id", "vec_id"), params.getOrElse("vec", "embedding"))
}

/** MMR diversity re-rank for scripts: input 1 = corpus, input 2 = a
  * one-row query table carrying the query vector in `vec`. Params: k
  * (required; one Spark job per pick at any k), lambdaPct (70), scale
  * (1000000), id (vec_id), vec (embedding).
  */
class MmrSelect extends UserOperator {
  def apply(inputs: Seq[DataFrame], params: Map[String, String]): DataFrame = {
    val vecCol = params.getOrElse("vec", "embedding")
    val qRows = inputs(1).select(vecCol).limit(2).collect()
    require(qRows.length == 1, s"MmrSelect: query table must have exactly 1 row")
    val qv: Seq[Double] = qRows(0).getSeq[Any](0).map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case n: java.lang.Number => n.doubleValue
    }
    graft.similarity.Similarity.mmrSelectPortable(inputs.head, qv,
      params("k").toInt, params.getOrElse("lambdaPct", "70").toInt,
      params.getOrElse("scale", "1000000").toLong,
      params.getOrElse("id", "vec_id"), vecCol)
  }
}
