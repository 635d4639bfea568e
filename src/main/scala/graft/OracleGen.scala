package graft

import graft.functions.PortableHash.{B, P, minHashCoefs}
import graft.text.TextAnalysis

/** Generators for the DuckDB oracle SQL of the hash-derived queries
  * (langid, fingerprint, minhash/simhash/LSH dedup, ANN). The operators use
  * portable integer arithmetic (graft.functions.PortableHash) precisely so
  * these oracles can reproduce their outputs bit-for-bit — every constant
  * here is inlined from the same Scala definitions the Spark expressions
  * use.
  */
object OracleGen {

  /** DuckDB equivalent of TextAnalysis.tokens. */
  val toks = """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""

  /** charPolyHash: fold of (h*31 + codepoint) mod `mod` over the chars. */
  def charHash(e: String, mod: Long = P): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($e, ''), " +
      s"ch -> CAST(ascii(ch) AS BIGINT))), (h, c) -> (h * 31 + c) % $mod)"

  /** Horner fold (h*B + e_i) mod P over expressions — mirrors
    * PortableHash.shingleHashes / foldBucket.
    */
  def horner(elems: Seq[String]): String =
    elems.foldLeft("CAST(0 AS BIGINT)")((h, e) => s"(($h * $B + $e) % $P)")

  /** Strictly sequential double dot product (list_reduce, not list_sum, so
    * the fold order matches Spark's `aggregate`).
    */
  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), " +
      s"i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  def cosine(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  // ---- q37 language id ----------------------------------------------------

  def langId: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      val wl = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(ts, w -> list_contains($wl, w))) AS s_$lang"
    }
    val values = TextAnalysis.langProfiles
      .map { case (lang, _) => s"(s_$lang, '$lang')" }.mkString(", ")
    // NULL text → NULL prediction, matching LangIdPick's null propagation
    // (the r14 contract change, pinned in TextDedupSpec): without the CASE
    // the all-NULL scores tie-break to the binary-largest lang, so the
    // oracle would silently disagree on any NULL-text row
    s"""WITH t AS (SELECT doc_id, lang, text, list_transform($toks, x -> lower(x)) AS ts FROM documents),
       |scored AS (SELECT doc_id, lang, text, ${scores.mkString(", ")} FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN text IS NULL THEN NULL ELSE
       |    (SELECT l FROM (VALUES $values) v(s, l) ORDER BY s DESC, l DESC LIMIT 1)
       |  END AS lang_pred
       |FROM scored""".stripMargin
  }

  // ---- q38 fingerprint ----------------------------------------------------

  def fingerprint: String =
    s"SELECT doc_id, md5(array_to_string($toks, ' ')) AS fp FROM documents"

  // ---- q41 MinHash LSH ----------------------------------------------------

  /** Shared banded-signature CTE chain (th → sh → sig → banded) used by
    * both the all-pairs LSH oracle and the batch-vs-index oracle.
    */
  private def bandedCte(shingleN: Int, k: Int, bands: Int): String = {
    val rows = k / bands
    val shingle = horner((0 until shingleN).map(j => s"hs[i + $j]"))
    val sigs = minHashCoefs(k)
      .map { case (a, b) => s"list_min(list_transform(shs, x -> ($a * x + $b) % $P))" }
      .mkString("[", ",\n    ", "]")
    val bucket = horner((1 to rows).map(j => s"sg[band * $rows + $j]"))
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), sh AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(hs) - ${shingleN - 1}), i -> $shingle) AS shs
       |  FROM th WHERE len(hs) >= $shingleN
       |), sig AS (
       |  SELECT doc_id, $sigs AS sg FROM sh
       |), banded AS (
       |  SELECT doc_id, band, $bucket AS bucket
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bands - 1})) AS band) b
       |)""".stripMargin
  }

  def minHashLsh(shingleN: Int, k: Int, bands: Int): String =
    bandedCte(shingleN, k, bands) +
      s"""
       |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id""".stripMargin

  /** q113: incremental near-dup — corpus rows (doc_id % batchMod != 0) are
    * the pre-built index, batch rows (doc_id % batchMod = 0) band against
    * it. Mirrors Dedup.minHashLshAgainstIndex over Dedup.minHashIndex.
    */
  def minHashAgainstIndex(shingleN: Int, k: Int, bands: Int, batchMod: Int): String =
    bandedCte(shingleN, k, bands) +
      s"""
       |SELECT DISTINCT b.doc_id AS batch_id, i.doc_id AS corpus_id
       |FROM banded b JOIN banded i ON b.band = i.band AND b.bucket = i.bucket
       |WHERE b.doc_id % $batchMod = 0 AND i.doc_id % $batchMod <> 0""".stripMargin

  // ---- q40 n-gram Jaccard -------------------------------------------------

  def ngramJaccard(n: Int, threshold: Double, sampleMod: Int,
                   cap: Option[Int] = None): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    // mirror Dedup.capHotShingles when the Spark side runs its default
    // cap: shingles held by more than `cap` docs leave PAIR GENERATION
    // while union sizes keep the full sets — scale-independent equality
    val capped = cap.map(c =>
      s""", hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(1) > $c
         |), shc AS (SELECT * FROM sh ANTI JOIN hot USING (shingle))""".stripMargin)
      .getOrElse(", shc AS (SELECT * FROM sh)")
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |  WHERE doc_id % $sampleMod = 0
       |), sh0 AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle)) AS shs
       |  FROM th WHERE len(hs) >= $n
       |), sh AS (
       |  SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh0
       |)$capped
       |, common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(1) AS common
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b, CAST(common AS DOUBLE) / (n_a + n_b - common) AS jaccard FROM common)
       |WHERE jaccard >= $threshold""".stripMargin
  }

  // ---- q87 cross-corpus Jaccard -------------------------------------------

  /** Mirrors Dedup.crossCorpusJaccard with left = even doc_ids sampled by
    * `sampleMod`, right = odd doc_ids sampled likewise.
    */
  def crossCorpusJaccard(n: Int, threshold: Double, sampleMod: Int,
                         cap: Option[Int] = None): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    // the Spark default cap applies PER SIDE (Dedup.crossCorpusJaccard
    // caps each corpus's shingle stream independently) — mirror that
    val capped = cap.map(c =>
      s""", hot AS (SELECT doc_id % $sampleMod AS side, shingle
         |  FROM sh GROUP BY 1, shingle HAVING count(1) > $c
         |), shc AS (SELECT sh.* FROM sh ANTI JOIN hot
         |  ON hot.side = sh.doc_id % $sampleMod AND hot.shingle = sh.shingle)""".stripMargin)
      .getOrElse(", shc AS (SELECT * FROM sh)")
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |  WHERE doc_id % $sampleMod IN (0, 1)
       |), sh0 AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle)) AS shs
       |  FROM th WHERE len(hs) >= $n
       |), sh AS (
       |  SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh0
       |)$capped
       |, common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(1) AS common
       |  FROM shc a JOIN shc b ON a.shingle = b.shingle
       |  WHERE a.doc_id % $sampleMod = 0 AND b.doc_id % $sampleMod = 1
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b, CAST(common AS DOUBLE) / (n_a + n_b - common) AS jaccard FROM common)
       |WHERE jaccard >= $threshold""".stripMargin
  }

  // ---- q86 passage chunking -----------------------------------------------

  /** Mirrors TextAnalysis.chunk: starts 1, 1+stride, … ≤ max(n−overlap, 1). */
  def chunk(chunkTokens: Int, overlap: Int): String = {
    val stride = chunkTokens - overlap
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS ts FROM documents
       |), st AS (
       |  SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - $overlap, 1), $stride)) AS s
       |  FROM t WHERE len(ts) >= 1
       |)
       |SELECT doc_id,
       |  CAST((s - 1) // $stride AS BIGINT) AS chunk_idx,
       |  array_to_string(list_slice(ts, s, s + ${chunkTokens - 1}), ' ') AS chunk_text,
       |  CAST(least($chunkTokens, len(ts) - s + 1) AS BIGINT) AS n_chunk_tokens
       |FROM st""".stripMargin
  }

  // ---- q90 mixture take ---------------------------------------------------

  /** Mirrors Sampling.mixtureTake over mixturePlan(budget) on documents:
    * per lang, keep docs in (hash, doc_id) order while the inclusive
    * running token total stays within the stratum's allocation.
    */
  def mixtureTake(budget: Long): String =
    s"""WITH plan AS (${mixturePlan(budget)}),
       |d AS (
       |  SELECT doc_id, lang, len($toks) AS n_tokens,
       |    ${hashBucket("doc_id", "mix", 1L << 30)} AS h
       |  FROM documents
       |), cum AS (
       |  SELECT doc_id, lang,
       |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM d
       |)
       |SELECT c.doc_id, c.lang FROM cum c JOIN plan p ON c.lang = p.stratum
       |WHERE c.cum_tokens <= p.alloc_tokens""".stripMargin

  // ---- q93 duplicate spans ------------------------------------------------

  /** Mirrors Dedup.duplicateSpans: positions of corpus-hot n-gram shingles,
    * merged per doc into maximal spans via gaps-and-islands.
    */
  def duplicateSpans(n: Int, minCount: Long): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), pos0 AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(hs) - ${n - 1}),
       |    i -> {'i': i, 'h': $shingle})) AS p
       |  FROM th WHERE len(hs) >= $n
       |), pos AS (
       |  SELECT doc_id, p.i AS i, p.h AS h FROM pos0
       |), hot AS (
       |  SELECT h FROM (SELECT h, count(1) AS c FROM pos GROUP BY 1) WHERE c >= $minCount
       |), dup AS (
       |  SELECT doc_id, i FROM pos JOIN hot USING (h)
       |), marked AS (
       |  SELECT doc_id, i, CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > $n
       |    THEN 1 ELSE 0 END AS nw
       |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)
       |), isl AS (
       |  SELECT doc_id, i, sum(nw) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM marked
       |)
       |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
       |  CAST(max(i) + ${n - 1} AS BIGINT) AS span_end,
       |  CAST(max(i) + $n - min(i) AS BIGINT) AS n_span_tokens
       |FROM isl GROUP BY doc_id, island""".stripMargin
  }

  // ---- q120 cut spans ------------------------------------------------------

  /** Mirrors Dedup.cutSpans over Dedup.duplicateSpans: every token whose
    * 1-based position falls inside a flagged span is dropped; remaining
    * tokens re-join single-spaced (documents with no spans canonicalize
    * the same way).
    */
  def cutSpans(n: Int, minCount: Long): String =
    s"""WITH spans AS (SELECT * FROM (${duplicateSpans(n, minCount)})),
       |toks AS (SELECT doc_id, $toks AS ts FROM documents),
       |flat AS (
       |  SELECT doc_id, p.i AS i, p.t AS t
       |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)),
       |    i -> {'i': i, 't': ts[i]})) AS p FROM toks)
       |), kept AS (
       |  SELECT f.doc_id, f.i, f.t FROM flat f
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = f.doc_id
       |    AND f.i >= s.span_start AND f.i <= s.span_end)
       |)
       |SELECT t.doc_id,
       |  COALESCE(string_agg(k.t, ' ' ORDER BY k.i), '') AS clean_text,
       |  CAST(len(t.ts) - count(k.i) AS BIGINT) AS n_tokens_removed
       |FROM toks t LEFT JOIN kept k USING (doc_id)
       |GROUP BY t.doc_id, len(t.ts)""".stripMargin

  // ---- q88 heavy hitters --------------------------------------------------

  /** Mirrors Aggregations.heavyHitters over whitespace tokens. */
  def heavyHittersTokens(minShare: Double): String =
    s"""WITH tok AS (SELECT unnest($toks) AS value FROM documents),
       |c AS (SELECT value, CAST(count(1) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       |t AS (SELECT sum(cnt) AS total FROM c)
       |SELECT value, cnt, CAST(cnt AS DOUBLE) / total AS share
       |FROM c, t WHERE CAST(cnt AS DOUBLE) / total >= $minShare""".stripMargin

  // ---- q89 train/val/test split -------------------------------------------

  /** Mirrors Sampling.hashSplit(doc_id, weights, labels, salt="split"):
    * thresholds are the cumulative per-mille weights.
    */
  def hashSplit(thresholds: Seq[(Int, String)], lastLabel: String): String = {
    val whens = thresholds.map { case (t, l) => s"WHEN b < $t THEN '$l'" }
    s"""WITH h AS (SELECT doc_id, ${hashBucket("doc_id", "split", 1000)} AS b FROM documents)
       |SELECT doc_id, CASE ${whens.mkString(" ")} ELSE '$lastLabel' END AS split
       |FROM h""".stripMargin
  }

  // ---- q57 MinHash LSH + exact-Jaccard verification -----------------------

  /** Candidates from the LSH oracle, verified by exact Jaccard over the
    * distinct shingle-hash sets — mirrors Dedup.minHashDedup.
    */
  def minHashDedup(shingleN: Int, k: Int, bands: Int, threshold: Double): String = {
    val cands = minHashLsh(shingleN, k, bands)
    val shingle = horner((0 until shingleN).map(j => s"hs[i + $j]"))
    s"""WITH cand AS ($cands
       |), th2 AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), sets AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - ${shingleN - 1}), i -> $shingle)) AS shs
       |  FROM th2 WHERE len(hs) >= $shingleN
       |)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS jaccard
       |  FROM cand c JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b)
       |WHERE jaccard >= $threshold""".stripMargin
  }

  // ---- q60 duplicate clusters ---------------------------------------------

  /** Connected components over the verified near-dup pairs: recursive
    * transitive closure, min reachable id per node — the min-id labeling
    * Dedup.dupClusters' connected-components rounds settle on.
    */
  def dupClusters(shingleN: Int, k: Int, bands: Int, threshold: Double): String = {
    val pairs = minHashDedup(shingleN, k, bands, threshold)
    s"""WITH RECURSIVE pairs AS (
       |$pairs
       |), edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs
       |), reach(id, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
       |)
       |SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id""".stripMargin
  }

  // ---- q65 dedup survivors ------------------------------------------------

  /** Canonical survivors: every document except non-minimum members of a
    * duplicate cluster — mirrors Dedup.clusterSurvivors over dupClusters.
    */
  def dedupSurvivors(shingleN: Int, k: Int, bands: Int, threshold: Double): String = {
    val clusters = dupClusters(shingleN, k, bands, threshold)
    s"""WITH cl AS (
       |$clusters
       |)
       |SELECT d.doc_id FROM documents d
       |LEFT JOIN cl ON d.doc_id = cl.doc_id AND cl.doc_id <> cl.cluster
       |WHERE cl.doc_id IS NULL""".stripMargin
  }

  // ---- q121 soft dedup -----------------------------------------------------

  /** Mirrors Dedup.softDedupWeights over dupClusters: inverse-cluster-size
    * weights (one exactly-rounded division), unclustered docs weigh 1.
    */
  def softDedup(shingleN: Int, k: Int, bands: Int, threshold: Double): String = {
    val clusters = dupClusters(shingleN, k, bands, threshold)
    s"""WITH cl AS (
       |$clusters
       |), sz AS (SELECT cluster, CAST(count(1) AS BIGINT) AS csz FROM cl GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(c2.csz, 1) AS BIGINT) AS cluster_size,
       |  1.0 / CAST(COALESCE(c2.csz, 1) AS DOUBLE) AS weight
       |FROM documents d
       |LEFT JOIN (SELECT cl.doc_id, sz.csz FROM cl JOIN sz USING (cluster)) c2
       |  USING (doc_id)""".stripMargin
  }

  // ---- q125 keep-best survivors -------------------------------------------

  /** Quality-preferring survivors: per duplicate cluster keep the row with
    * the highest n_chars (ties → smallest doc_id); unclustered documents
    * all survive — mirrors Dedup.survivorsBy over dupClusters.
    */
  def survivorsByQuality(shingleN: Int, k: Int, bands: Int, threshold: Double): String = {
    val clusters = dupClusters(shingleN, k, bands, threshold)
    s"""WITH cl AS (
       |$clusters
       |), scored AS (
       |  SELECT d.doc_id, d.n_chars, cl.cluster
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
       |), winners AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (
       |      PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM scored WHERE cluster IS NOT NULL) WHERE rn = 1
       |)
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
       |WHERE doc_id IN (SELECT doc_id FROM winners
       |                 UNION ALL
       |                 SELECT doc_id FROM scored WHERE cluster IS NULL)""".stripMargin
  }

  // ---- q42 SimHash --------------------------------------------------------

  def simHashCandidates(maxHamming: Int): String = {
    val nBands = maxHamming + 1
    val width = 32 / nBands
    val mask = (1L << width) - 1
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t", 4294967296L)}) AS hs FROM documents
       |), sim AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(0, 31), bit ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(hs, h -> CASE WHEN (h >> bit) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
       |          (sa, sx) -> sa + sx) > 0
       |      THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END)),
       |    (pa, px) -> pa + px) AS simhash
       |  FROM th WHERE len(hs) > 0
       |), banded AS (
       |  SELECT doc_id, simhash, band, (simhash >> (band * $width)) & $mask AS key
       |  FROM sim CROSS JOIN (SELECT unnest(generate_series(0, ${nBands - 1})) AS band) b
       |)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |    CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
       |WHERE hamming <= $maxHamming""".stripMargin
  }

  // ---- q43 embedding near-dup ---------------------------------------------

  def embeddingNearDup(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosine("a.v", "b.v")} AS cosine
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |WHERE cosine >= $threshold""".stripMargin

  // ---- q44 brute-force ANN ------------------------------------------------

  def annBrute(k: Int, maxQueryId: Long): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ${cosine("q.v", "c.v")} AS cosine
       |  FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < $maxQueryId)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM scored)
       |WHERE rk <= $k""".stripMargin

  /** Similarity.marginMine: both directions' top-k candidate union,
    * sorted-fold neighbor means, the same margin tree, best per source.
    */
  def marginMine(k: Int, srcMax: Long, tgtLo: Long, tgtHi: Long,
                 threshold: Double): String = {
    val cos = cosine("s.v", "t.v")
    val meanFold = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_sort(list(cosine))), (a, x) -> a + x) / CAST(count(1) AS DOUBLE)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT * FROM e WHERE vec_id < $srcMax),
       |t AS (SELECT * FROM e WHERE vec_id >= $tgtLo AND vec_id < $tgtHi),
       |fs AS (SELECT src_id, tgt_id, cosine FROM (
       |    SELECT s.vec_id AS src_id, t.vec_id AS tgt_id, $cos AS cosine,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY $cos DESC, t.vec_id) AS rk
       |    FROM s, t) WHERE rk <= $k),
       |bs AS (SELECT src_id, tgt_id, cosine FROM (
       |    SELECT s.vec_id AS src_id, t.vec_id AS tgt_id, $cos AS cosine,
       |      row_number() OVER (PARTITION BY t.vec_id ORDER BY $cos DESC, s.vec_id) AS rk
       |    FROM s, t) WHERE rk <= $k),
       |ms AS (SELECT src_id, $meanFold AS mean_src FROM fs GROUP BY 1),
       |mt AS (SELECT tgt_id, $meanFold AS mean_tgt FROM bs GROUP BY 1),
       |cand AS (SELECT DISTINCT src_id, tgt_id, cosine
       |  FROM (SELECT * FROM fs UNION ALL SELECT * FROM bs)),
       |sc AS (SELECT c.src_id, c.tgt_id,
       |    c.cosine / ((ms.mean_src + mt.mean_tgt) / 2) AS margin
       |  FROM cand c JOIN ms USING (src_id) JOIN mt USING (tgt_id)),
       |r AS (SELECT src_id, tgt_id, margin,
       |    row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rk
       |  FROM sc)
       |SELECT src_id, tgt_id, margin FROM r WHERE rk = 1 AND margin > $threshold""".stripMargin
  }

  /** Sequential-fold squared L2 — mirrors Pq.l2sq (zip_with then a left
    * fold, same order ⇒ bit-identical doubles).
    */
  def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** Exact L2 top-k (the PQ ground truth) — mirrors Pq.exactL2TopK
    * including the self-match at rank 1.
    */
  def annL2(k: Int, maxQueryId: Long): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, ${l2sqSql("q.v", "c.v")} AS d
       |  FROM e q JOIN e c ON q.vec_id < $maxQueryId)
       |SELECT query_id, vec_id, CAST(rk AS INT) AS rank FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rk
       |  FROM scored)
       |WHERE rk <= $k""".stripMargin

  // ---- q117 IVF assignment with fixed centroids ----------------------------

  /** Mirrors Similarity.ivfAssign with the first `nCentroids` vectors as
    * fixed centroids: d = −cosine (ordered double folds, hardware sqrt —
    * all correctly-rounded IEEE ops), argmin with (d, centroid_id)
    * tie-break exactly as the engine's min_by struct.
    */
  def ivfAssign(nCentroids: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < $nCentroids),
       |scored AS (
       |  SELECT e.vec_id, c.centroid_id, -(${cosine("e.v", "c.cv")}) AS d
       |  FROM e, c)
       |SELECT vec_id, centroid_id FROM (
       |  SELECT vec_id, centroid_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, centroid_id) AS rk
       |  FROM scored)
       |WHERE rk = 1""".stripMargin

  // ---- q129 SemDeDup under fixed centroids ---------------------------------

  /** Mirrors Dedup.semDedup with the first `nCentroids` vectors as fixed
    * centroids: the q117 assignment argmin, then in-cell pairs at cosine ≥
    * threshold drop the larger id (same double folds as q43's verifier).
    */
  /** Similarity.diverseSelect: the ivfAssign argmin, then the per-cell
    * most-central member, both with (−cos, id) lexicographic ties.
    */
  def diverseSelect(nCentroids: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < $nCentroids),
       |corp AS (SELECT vec_id, v FROM e WHERE vec_id >= $nCentroids),
       |scored AS (
       |  SELECT corp.vec_id, c.centroid_id, -(${cosine("corp.v", "c.cv")}) AS d
       |  FROM corp, c),
       |assigned AS (
       |  SELECT vec_id, centroid_id, d FROM (
       |    SELECT vec_id, centroid_id, d,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, centroid_id) AS rk
       |    FROM scored)
       |  WHERE rk = 1)
       |SELECT centroid_id, vec_id AS rep_id FROM (
       |  SELECT centroid_id, vec_id,
       |    row_number() OVER (PARTITION BY centroid_id ORDER BY d, vec_id) AS rk
       |  FROM assigned)
       |WHERE rk = 1""".stripMargin

  def semDedup(nCentroids: Int, threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < $nCentroids),
       |scored AS (
       |  SELECT e.vec_id, c.centroid_id, -(${cosine("e.v", "c.cv")}) AS d
       |  FROM e, c),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, centroid_id) AS rk
       |    FROM scored)
       |  WHERE rk = 1),
       |av AS (SELECT a.vec_id, a.centroid_id, e.v FROM assigned a JOIN e USING (vec_id)),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM av x JOIN av y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
       |  WHERE ${cosine("x.v", "y.v")} >= $threshold)
       |SELECT vec_id, centroid_id FROM assigned
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // ---- q135 incremental SemDeDup ------------------------------------------

  /** Mirrors Dedup.semDedupIndex + semDedupAgainstIndex under fixed
    * centroids: corpus = vec_id ≥ batchMax indexed by cell; a batch vector
    * drops when any indexed cell-mate reaches the threshold (corpus wins),
    * survivors then pair in-batch exactly as q129.
    */
  def semDedupIncremental(nCentroids: Int, threshold: Double, batchMax: Long): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < $nCentroids),
       |scored AS (
       |  SELECT e.vec_id, c.centroid_id, -(${cosine("e.v", "c.cv")}) AS d
       |  FROM e, c),
       |assigned AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, centroid_id) AS rk
       |    FROM scored)
       |  WHERE rk = 1),
       |av AS (SELECT a.vec_id, a.centroid_id, e.v FROM assigned a JOIN e USING (vec_id)),
       |bat AS (SELECT * FROM av WHERE vec_id < $batchMax),
       |idx AS (SELECT * FROM av WHERE vec_id >= $batchMax),
       |corpusdup AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM bat b JOIN idx i ON b.centroid_id = i.centroid_id
       |  WHERE ${cosine("b.v", "i.v")} >= $threshold),
       |fresh AS (
       |  SELECT * FROM bat WHERE vec_id NOT IN (SELECT vec_id FROM corpusdup)),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM fresh x JOIN fresh y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
       |  WHERE ${cosine("x.v", "y.v")} >= $threshold)
       |SELECT vec_id, centroid_id FROM fresh
       |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // ---- q136 markup stripping / q137 script profile ------------------------

  /** Mirrors TextAnalysis.stripMarkup over the q136 synthetic HTML wrap:
    * same RE2 patterns (block strip, comments, tags, entity decode,
    * whitespace collapse), applied in the same order.
    */
  // ---- q139/q140 winnowing fingerprints -----------------------------------

  /** Winnowed fingerprint sets over `source` (a doc_id, text relation) —
    * mirrors Dedup.winnowSignature: distinct sliding-window (w) minima of
    * the word n-gram shingle hashes; documents with 1..w-1 shingles keep
    * their single global min.
    */
  private def winnowCte(n: Int, w: Int, source: String): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    s"""WITH src AS ($source),
       |th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM src
       |), sh AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle) AS shs
       |  FROM th WHERE len(hs) >= $n
       |), fp AS (
       |  SELECT doc_id, CASE WHEN len(shs) >= $w
       |    THEN list_distinct(list_transform(generate_series($w, len(shs)), i -> list_min(shs[i - ${w - 1}:i])))
       |    ELSE [list_min(shs)] END AS fps
       |  FROM sh
       |)""".stripMargin
  }

  /** q139: per-document winnowed-fingerprint summary (count/sum/min/max
    * grade the exact fingerprint SET without exploding it).
    */
  def winnowStats(n: Int, w: Int): String =
    winnowCte(n, w, "SELECT doc_id, text FROM documents") +
      s"""
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
       |  CAST(list_sum(fps) AS BIGINT) AS fp_sum,
       |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
       |FROM fp""".stripMargin

  /** q140: pairwise shared-fingerprint counts over synthetic text where
    * docs of the same (doc_id % 100) group share a planted passage whose
    * every n-gram contains the group token — mirrors
    * Dedup.winnowOverlapJoin.
    */
  def winnowOverlap(n: Int, w: Int, minShared: Int, maxDocId: Long,
                    groupMod: Int, chunkWords: Seq[String]): String = {
    val g = s"('g' || CAST(doc_id % $groupMod AS VARCHAR))"
    val chunk = chunkWords.map(wd => s" || ' ' || $g || ' $wd'").mkString
    val src = s"SELECT doc_id, substring(text, 1, 150)$chunk AS text " +
      s"FROM documents WHERE doc_id < $maxDocId"
    winnowCte(n, w, src) +
      s""", fpx AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp FROM fp)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
       |  CAST(count(*) AS DOUBLE) / least(a.n_fp, b.n_fp) AS overlap
       |FROM fpx a JOIN fpx b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.n_fp, b.n_fp
       |HAVING count(*) >= $minShared""".stripMargin
  }

  // ---- q141 Gopher quality rules -------------------------------------------

  /** Mirrors TextAnalysis.withGopherRules over the q141 salted text (bullet
    * lines, ellipsis trailers, and # runs planted by doc_id mod classes).
    * All ratios are int/int divisions in double — exactly rounded, so the
    * comparison is bit-stable.
    */
  def gopherRules(minWords: Int, maxWords: Int,
                  minMeanWordLen: Double, maxMeanWordLen: Double,
                  maxSymbolWordRatio: Double, maxBulletRatio: Double,
                  maxEllipsisRatio: Double, minAlphaWordRatio: Double,
                  minStopHits: Int): String = {
    val stop = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH d AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- bullet item' || chr(10) || '- second bullet' || chr(10) || '* third' ELSE '' END ||
       |  CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'trailing line...' || chr(10) || 'second trailer…' ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0 THEN ' ## # ###' ELSE '' END AS text FROM documents),
       |f AS (SELECT doc_id, text, $toks AS ts,
       |  list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls FROM d),
       |g AS (SELECT doc_id,
       |  CAST(len(ts) AS BIGINT) AS n_words,
       |  CASE WHEN len(ts) > 0
       |    THEN CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE) / len(ts)
       |    ELSE 0.0 END AS mean_word_len,
       |  CASE WHEN len(ts) > 0
       |    THEN CAST(len(list_filter(ts, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(ts)
       |    ELSE 0.0 END AS alpha_word_ratio,
       |  CASE WHEN len(ls) > 0
       |    THEN CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) / len(ls)
       |    ELSE 0.0 END AS bullet_line_ratio,
       |  CASE WHEN len(ls) > 0
       |    THEN CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE) / len(ls)
       |    ELSE 0.0 END AS ellipsis_line_ratio,
       |  CASE WHEN len(ts) > 0
       |    THEN ((length(text) - length(replace(text, '#', '')))
       |      + (length(text) - length(replace(text, '...', ''))) / 3
       |      + (length(text) - length(replace(text, '…', '')))) / len(ts)
       |    ELSE 0.0 END AS symbol_word_ratio,
       |  CAST(len(list_filter($stop, w ->
       |    list_contains(list_transform(ts, x -> lower(x)), w))) AS BIGINT) AS stop_hits
       |  FROM f)
       |SELECT *, (n_words BETWEEN $minWords AND $maxWords
       |  AND mean_word_len BETWEEN $minMeanWordLen AND $maxMeanWordLen
       |  AND symbol_word_ratio < $maxSymbolWordRatio
       |  AND bullet_line_ratio < $maxBulletRatio
       |  AND ellipsis_line_ratio < $maxEllipsisRatio
       |  AND alpha_word_ratio > $minAlphaWordRatio
       |  AND stop_hits >= $minStopHits) AS keep_gopher
       |FROM g""".stripMargin
  }

  def stripMarkup: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    '<html><head><style>p{color:red}</style></head><body><!-- hdr --><p>'
       |    || substring(text, 1, 200)
       |    || '</p><script>var x = 1 &amp;&amp; 2;</script> &lt;raw&gt; &amp; &quot;q&#39;s&quot;&nbsp;</body></html>'
       |    AS html
       |  FROM documents),
       |s1 AS (SELECT doc_id,
       |  regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
       |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
       |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
       |s4 AS (SELECT doc_id,
       |  replace(replace(replace(replace(replace(replace(t,
       |    '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
       |    '&quot;', '"'), '&#39;', CHR(39)), '&nbsp;', ' ') AS t FROM s3),
       |s5 AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean FROM s4)
       |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_clean_chars FROM s5""".stripMargin

  /** Mirrors TextAnalysis.withScriptProfile over the q137 salted text:
    * identical codepoint-range counts (RE2 and Java agree on explicit
    * ranges) and the same dominance CASE order.
    */
  def scriptProfile: String = {
    def cnt(range: String) =
      s"CAST(length(regexp_replace(text, '[^$range]', '', 'g')) AS BIGINT)"
    val latin = cnt("A-Za-z"); val digit = cnt("0-9")
    val cjk = cnt("\\x{4e00}-\\x{9fff}"); val cyr = cnt("\\x{0400}-\\x{04ff}")
    val ara = cnt("\\x{0600}-\\x{06ff}")
    def ratio(c: String) =
      s"CASE WHEN n > 0 THEN CAST($c AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END"
    s"""WITH s AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 5 = 0 THEN ' 漢字測試漢字測試漢字測試漢字測試漢字測試漢字測試漢字測試' ELSE '' END
       |         || CASE WHEN doc_id % 7 = 0 THEN ' текст' ELSE '' END
       |         || CASE WHEN doc_id % 11 = 0 THEN ' نصوص' ELSE '' END AS text
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
       |    $latin AS latin, $digit AS digit, $cjk AS cjk, $cyr AS cyr, $ara AS ara
       |  FROM s)
       |SELECT doc_id, n AS n_chars_total,
       |  ${ratio("latin")} AS latin_ratio, ${ratio("digit")} AS digit_ratio,
       |  ${ratio("cjk")} AS cjk_ratio, ${ratio("cyr")} AS cyrillic_ratio,
       |  ${ratio("ara")} AS arabic_ratio,
       |  CASE WHEN latin >= cjk AND latin >= cyr AND latin >= ara AND latin > 0 THEN 'latin'
       |       WHEN cjk >= cyr AND cjk >= ara AND cjk > 0 THEN 'cjk'
       |       WHEN cyr >= ara AND cyr > 0 THEN 'cyrillic'
       |       WHEN ara > 0 THEN 'arabic'
       |       ELSE 'other' END AS dominant_script
       |FROM c""".stripMargin
  }

  // ---- q69 LSH embedding near-dup -----------------------------------------

  /** Hyperplane-band bucketed near-dup pairs with exact cosine verification
    * — mirrors Dedup.embeddingNearDupLsh (same signature arithmetic as the
    * ANN oracle).
    */
  def embeddingNearDupLsh(threshold: Double, nPlanes: Int, bands: Int): String = {
    val width = nPlanes / bands
    val mask = (1L << width) - 1
    val sign = s"((((((p * 2654435761 + (d - 1)) % $P) * 1103515245 + 12345) % 2147483648) >> 15) & 1) = 0"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (
       |  SELECT vec_id, v, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(0, ${nPlanes - 1}), p ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(generate_series(1, len(v)), d -> CASE WHEN $sign THEN v[d] ELSE -v[d] END)),
       |          (sa, sx) -> sa + sx) > 0
       |      THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)),
       |    (pa, px) -> pa + px) AS sg
       |  FROM e
       |), banded AS (
       |  SELECT vec_id, v, band, (sg >> (band * $width)) & $mask AS key
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bands - 1})) AS band) b
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT id_a, id_b, ${cosine("va", "vb")} AS cosine FROM cand)
       |WHERE cosine >= $threshold""".stripMargin
  }

  // ---- q64 IVF ANN --------------------------------------------------------

  /** IVF nprobe=1: nearest-centroid assignment of both sides (deterministic
    * centroid set: vec_id % centroidMod = 0), candidates within the query's
    * cell only, exact cosine re-rank — mirrors Similarity.ivfTopK.
    */
  def annIvf(k: Int, centroidMod: Long, maxQueryId: Long, nprobe: Int = 1): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e WHERE vec_id % $centroidMod = 0),
       |ranked AS (
       |  SELECT e.vec_id, e.v, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosine("e.v", "c.cvec")} DESC, c.centroid_id) AS rk
       |  FROM e CROSS JOIN cent c),
       |assigned AS (
       |  SELECT vec_id, v, centroid_id AS cell FROM ranked WHERE rk = 1),
       |qprobe AS (
       |  SELECT vec_id, v, centroid_id AS cell FROM ranked
       |  WHERE rk <= $nprobe AND vec_id < $maxQueryId),
       |cand AS (
       |  SELECT q.vec_id AS query_id, q.v AS qv, n.vec_id AS neighbor_id, n.v AS cv
       |  FROM qprobe q JOIN assigned n ON q.cell = n.cell AND q.vec_id <> n.vec_id),
       |scored AS (SELECT query_id, neighbor_id, ${cosine("qv", "cv")} AS cosine FROM cand)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM scored)
       |WHERE rk <= $k""".stripMargin

  // ---- q70 repetition features --------------------------------------------

  /** Gopher-style duplicate n-gram fractions — mirrors
    * TextAnalysis.withRepetitionFeatures (same shingle-hash arithmetic, same
    * 1.0 - distinct/total double expression shape).
    */
  def repetition: String = {
    def gram(n: Int): String = {
      val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
      s"CASE WHEN len(hs) >= $n THEN list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle) ELSE CAST([] AS BIGINT[]) END"
    }
    def dupFrac(e: String): String =
      s"CASE WHEN len($e) > 0 THEN 1.0 - CAST(len(list_distinct($e)) AS DOUBLE) / CAST(len($e) AS DOUBLE) ELSE 0.0 END"
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), g AS (
       |  SELECT doc_id, hs, ${gram(2)} AS bg, ${gram(3)} AS tg FROM th
       |)
       |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_tokens,
       |  ${dupFrac("hs")} AS dup_token_frac,
       |  ${dupFrac("bg")} AS dup_bigram_frac,
       |  ${dupFrac("tg")} AS dup_trigram_frac
       |FROM g""".stripMargin
  }

  // ---- q71 PII scrub ------------------------------------------------------

  /** Synthesized-PII scrub — mirrors TextAnalysis.withPiiScrub over the same
    * deterministic doc_id-derived contact string (the corpus itself contains
    * no PII; the synthesis exercises the regex path with real matches).
    */
  def piiScrub: String = {
    val email = TextAnalysis.emailPattern
    val phone = TextAnalysis.phonePattern
    val ip = TextAnalysis.ipv4Pattern
    s"""WITH s AS (
       |  SELECT doc_id,
       |    text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com ph 555-' ||
       |    CAST(1000 + doc_id % 9000 AS VARCHAR) || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
       |    '.0.' || CAST(doc_id % 100 AS VARCHAR) AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ipv4,
       |  regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS text_redacted
       |FROM s""".stripMargin
  }

  // ---- q72/q73 deterministic sampling -------------------------------------

  /** Sampling.hashBucket: LCG-finalized charPolyHash("salt:" || key) mod
    * buckets (the LCG round mirrors the operator's mixing step).
    */
  def hashBucket(keyExpr: String, salt: String, buckets: Long): String =
    s"(((${charHash(s"'$salt:' || CAST($keyExpr AS VARCHAR)")} * 1103515245 + 12345) % $P) % $buckets)"

  /** Sampling.negativeSample: draw j of anchor a probes bucket
    * hash(a:j) and keeps the candidate minimizing hash(a:j:cand) — the
    * min-of-struct election transcribed as a row_number window.
    */
  def negativeSample(k: Int, buckets: Int, anchorMax: Long,
                     salt: String = "neg"): String = {
    val bCand = hashBucket("CAST(doc_id AS VARCHAR)", salt, buckets)
    val bDraw = hashBucket(
      "CAST(anchor_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", salt, buckets)
    val th = hashBucket(
      "CAST(anchor_id AS VARCHAR) || ':' || CAST(draw AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)",
      salt, 1L << 30)
    s"""WITH a AS (SELECT doc_id AS anchor_id FROM documents WHERE doc_id < $anchorMax),
       |c AS (SELECT doc_id AS neg_id, $bCand AS b FROM documents),
       |d AS (SELECT anchor_id, j, CAST(j AS BIGINT) AS draw, $bDraw AS b
       |  FROM a CROSS JOIN (SELECT unnest(range(1, ${k + 1})) AS j)),
       |p AS (SELECT anchor_id, draw, neg_id, $th AS th
       |  FROM d JOIN c USING (b) WHERE neg_id <> anchor_id),
       |r AS (SELECT anchor_id, draw, neg_id,
       |    row_number() OVER (PARTITION BY anchor_id, draw ORDER BY th, neg_id) AS rn
       |  FROM p)
       |SELECT anchor_id, draw, neg_id FROM r WHERE rn = 1""".stripMargin
  }

  /** Sketches.quantileMatch: per-lang percent_rank matched onto the global
    * bottom-k sketch of n_chars — the same floor((floor(p·nQ)/nQ)·(n−1))
    * indexing the Spark side evaluates.
    */
  def quantileMatch(nQ: Int, k: Int, salt: String = "qm"): String =
    s"""WITH s AS (
       |  SELECT CAST(n_chars AS DOUBLE) AS v,
       |    ${hashBucket("doc_id", salt, 1L << 30)} AS h FROM documents),
       |r AS (SELECT v, row_number() OVER (ORDER BY h, v) AS rk FROM s),
       |g AS (SELECT list(v ORDER BY v) AS vs, COUNT(*) AS n FROM r WHERE rk <= $k),
       |p AS (SELECT doc_id, lang,
       |    percent_rank() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS prank
       |  FROM documents)
       |SELECT doc_id, lang, prank,
       |  vs[CAST(floor((floor(prank * $nQ) / $nQ.0) * (n - 1)) + 1 AS INT)] AS matched
       |FROM p, g""".stripMargin

  /** Sketches.quantileSketch + quantileEstimate: hash-ordered bottom-k row
    * sample per group, quantiles by lower-nearest-rank indexing of the
    * sorted sample (same floor(q·(n−1)) arithmetic).
    */
  def quantileSketch(k: Int, qs: Seq[Double]): String = {
    val cols = qs.map { q =>
      val name = "p" + (q * 100).toInt
      s"vs[CAST(floor($q * (n_sample - 1)) + 1 AS INT)] AS $name"
    }.mkString(", ")
    s"""WITH s AS (
       |  SELECT lang, n_chars AS v, ${hashBucket("doc_id", "qsk", 1L << 30)} AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rk
       |  FROM s),
       |g AS (
       |  SELECT lang, list(v ORDER BY v) AS vs, COUNT(*) AS n_sample
       |  FROM r WHERE rk <= $k GROUP BY lang)
       |SELECT lang, n_sample, $cols FROM g""".stripMargin
  }

  /** Stratified hash sampling — mirrors Sampling.stratifiedHashSample. */
  def sampleStratified(rates: Seq[(String, Int)], defaultPermille: Int): String = {
    val cases = rates.map { case (s, pm) => s"WHEN '$s' THEN $pm" }.mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${hashBucket("doc_id", "smp", 1000)} < CASE lang $cases ELSE $defaultPermille END""".stripMargin
  }

  /** Length-weighted acceptance sampling — mirrors Sampling.weightedHashSample
    * with weight = least(n_chars, cap) / cap. The weight expression tree
    * matches the Spark side exactly ((x / cap) * 2^20, one division then
    * one multiply) so the double comparison is bit-identical.
    */
  def weightedSample(cap: Long): String =
    s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
       |WHERE ${hashBucket("doc_id", "wsmp", 1L << 20)}
       |  < (CAST(least(n_chars, $cap) AS DOUBLE) / $cap.0) * 1048576""".stripMargin

  /** Deterministic global shuffle — mirrors Sampling.deterministicShuffle:
    * the engine's bucket-offset + within-bucket rank equals the naive
    * global row_number over (ordering hash, key) exactly, which is what
    * this transcribes (the bucket id is the hash's top bits, so bucket
    * order = hash order).
    */
  def detShuffle(salt: String): String =
    s"""SELECT doc_id, row_number() OVER (
       |  ORDER BY ${hashBucket("doc_id", salt, 1L << 30)}, doc_id) AS pos
       |FROM documents""".stripMargin

  /** Fair epoch interleave — mirrors Sampling.interleaveStrata: global
    * order by the composite (per-stratum rank − 1)·S + stratumIdx, which
    * round-robins the strata; the engine's three-phase bucketed rank
    * equals this naive transcription exactly.
    */
  def epochInterleave(salt: String): String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY ${hashBucket("doc_id", salt, 1L << 30)}, doc_id) AS r
       |  FROM documents),
       |si AS (
       |  SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS idx,
       |    count(*) OVER () AS s
       |  FROM (SELECT DISTINCT lang FROM documents))
       |SELECT doc_id, lang, row_number() OVER (ORDER BY (r - 1) * s + idx) AS pos
       |FROM r JOIN si USING (lang)""".stripMargin

  // ---- q131/q132 sketches ---------------------------------------------------

  /** KMV distinct sketch — mirrors Sketches.kmvDistinct: the k smallest
    * DISTINCT hash values per group; exact count below k, (k-1)·M/kth_hash
    * beyond (single division, replayed on identical integers).
    */
  def kmvDistinct(k: Int): String = {
    val m = 1L << 30
    s"""WITH h AS (
       |  SELECT DISTINCT o_orderpriority, ${hashBucket("o_custkey", "kmv", m)} AS hv
       |  FROM orders),
       |r AS (
       |  SELECT o_orderpriority, hv,
       |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn,
       |    count(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM h)
       |SELECT o_orderpriority,
       |  CAST(least(max(n), $k) AS INT) AS n_mins,
       |  CAST(coalesce(max(CASE WHEN rn = $k THEN hv END), -1) AS BIGINT) AS kth_hash,
       |  CASE WHEN max(n) < $k THEN CAST(max(n) AS DOUBLE)
       |       ELSE CAST(${(k - 1).toLong * m} AS DOUBLE)
       |            / CAST(max(CASE WHEN rn = $k THEN hv END) AS DOUBLE) END AS nd_est
       |FROM r GROUP BY o_orderpriority""".stripMargin
  }

  /** Count-min sketch — mirrors Sketches.cmsBuild + cmsQuery: depth hash
    * rows of `width` buckets over all document tokens, probed with the
    * tokens of doc_id < 3; estimate = min bucket count over the rows.
    * Integer-only, hence bit-portable.
    */
  def cmsCounts(depth: Int, width: Int): String = {
    val ent = (0 until depth).map { i =>
      s"SELECT $i AS d, ${hashBucket("term", s"cms$i", width)} AS bucket FROM toks"
    }.mkString("\n  UNION ALL ")
    val pe = (0 until depth).map { i =>
      s"SELECT term, $i AS d, ${hashBucket("term", s"cms$i", width)} AS bucket FROM probes"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |cells AS (
       |  SELECT d, bucket, count(*) AS cnt FROM (
       |  $ent) GROUP BY d, bucket),
       |probes AS (SELECT DISTINCT term FROM toks WHERE doc_id < 3),
       |pe AS (
       |  $pe)
       |SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
       |FROM pe LEFT JOIN cells USING (d, bucket)
       |GROUP BY term""".stripMargin
  }

  /** Mirrors Sketches.bloomBuild + bloomQuery over document tokens, probed
    * with the tokens of doc_id < 3 plus a planted absent key: identical
    * portable bit positions, 62-bit words, bit_or cells — so even the
    * sketch's false positives replay here.
    */
  def bloomContains(numBits: Int, hashes: Int): String = {
    val be = (0 until hashes).map { i =>
      s"SELECT ${hashBucket("term", s"blm$i", numBits)} AS pos FROM toks"
    }.mkString("\n  UNION ALL ")
    val pe = (0 until hashes).map { i =>
      s"SELECT key, ${hashBucket("key", s"blm$i", numBits)} AS pos FROM probes"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |pos AS (
       |  $be),
       |words AS (SELECT CAST(floor(pos / 62) AS INT) AS word,
       |  bit_or(1::BIGINT << CAST(pos % 62 AS INT)) AS bits FROM pos GROUP BY 1),
       |probes AS (SELECT DISTINCT term AS key FROM (
       |  SELECT term FROM toks WHERE doc_id < 3
       |  UNION ALL SELECT 'certainly-absent-token-xyz' AS term)),
       |pp AS (
       |  $pe),
       |pw AS (SELECT key, CAST(floor(pos / 62) AS INT) AS word,
       |  (1::BIGINT << CAST(pos % 62 AS INT)) AS mask FROM pp)
       |SELECT key, (min(CASE WHEN (coalesce(bits, 0) & mask) <> 0 THEN 1 ELSE 0 END) = 1) AS may_contain
       |FROM pw LEFT JOIN words USING (word)
       |GROUP BY key""".stripMargin
  }

  // ---- q128 paragraph dedup -------------------------------------------------

  /** CCNet-style paragraph dedup — mirrors Dedup.paragraphDedup: first
    * (doc, position) occurrence of each distinct non-blank paragraph wins
    * (the md5 grouping key is collision-free at oracle scale, so grouping
    * by the paragraph string itself is equivalent), documents reassemble
    * from survivors in original order.
    */
  def paragraphDedup: String =
    s"""WITH d AS (SELECT doc_id,
       |  'intro paragraph shared by group ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) ||
       |  substr(text, 1, 100) || chr(10) ||
       |  'standard footer variant ' || CAST(doc_id % 7 AS VARCHAR) AS text FROM documents),
       |ps AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM d),
       |px AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l)),
       |  i -> {'idx': i, 'para': l[i]})) AS u FROM ps),
       |p AS (SELECT doc_id, u.idx AS idx, u.para AS para FROM px WHERE trim(u.para) <> ''),
       |k AS (SELECT doc_id, idx, para,
       |  row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p)
       |SELECT doc_id, count(*) AS n_paras_kept,
       |  string_agg(para, chr(10) ORDER BY idx) AS text_dedup
       |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin

  /** Fixed-size per-stratum sample — mirrors Sampling.reservoirPerKey. */
  def sampleReservoir(n: Int): String =
    s"""SELECT doc_id, lang, CAST(rk AS INT) AS sample_rank FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY ${hashBucket("doc_id", "smp", 1L << 30)}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $n""".stripMargin

  // ---- q74 sequence packing -----------------------------------------------

  /** Greedy per-language token packing — the recursive-CTE transcription of
    * Packing.packGreedy's running-state scan (one recursion step per row in
    * doc_id order within each language).
    */
  def packGreedy(capacity: Long): String =
    s"""WITH RECURSIVE sz AS (
       |  SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents
       |), num AS (
       |  SELECT doc_id, lang, n_tokens,
       |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM sz
       |), packed(lang, rn, doc_id, n_tokens, cum, pack_id, pack_pos) AS (
       |  SELECT lang, rn, doc_id, n_tokens, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM num WHERE rn = 1
       |  UNION ALL
       |  SELECT n.lang, n.rn, n.doc_id, n.n_tokens,
       |    CASE WHEN p.cum + n.n_tokens <= $capacity THEN p.cum + n.n_tokens ELSE n.n_tokens END,
       |    CASE WHEN p.cum + n.n_tokens <= $capacity THEN p.pack_id ELSE p.pack_id + 1 END,
       |    CASE WHEN p.cum + n.n_tokens <= $capacity THEN p.pack_pos + 1 ELSE CAST(0 AS BIGINT) END
       |  FROM num n JOIN packed p ON n.lang = p.lang AND n.rn = p.rn + 1
       |)
       |SELECT doc_id, lang, n_tokens, pack_id, pack_pos FROM packed""".stripMargin

  // ---- q78 passage-level duplication --------------------------------------

  /** Cross-document shingle duplication stats — mirrors
    * Dedup.crossDocShingleStats (same shingle hashes, same coalesce shape).
    */
  def crossDocShingleStats(n: Int): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(hs) >= $n
       |    THEN list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle)
       |    ELSE CAST([] AS BIGINT[]) END) AS shs
       |  FROM th
       |), ex AS (
       |  SELECT doc_id, unnest(shs) AS h FROM sets
       |), freq AS (
       |  SELECT h, count(1) AS ndocs FROM ex GROUP BY h
       |), per AS (
       |  SELECT e.doc_id, count(1) AS n_shingles,
       |    CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles
       |  FROM ex e JOIN freq f USING (h) GROUP BY e.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(per.n_dup_shingles, 0) AS BIGINT) AS n_dup_shingles,
       |  CASE WHEN COALESCE(per.n_shingles, 0) > 0
       |    THEN CAST(per.n_dup_shingles AS DOUBLE) / CAST(per.n_shingles AS DOUBLE)
       |    ELSE 0.0 END AS cross_dup_frac
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin
  }

  // ---- q81 decontamination ------------------------------------------------

  /** Benchmark decontamination — mirrors Dedup.decontaminate with the eval
    * set = documents where doc_id % evalMod = 0 and train = the rest.
    */
  def decontaminate(n: Int, minOverlap: Int, evalMod: Int): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(hs) >= $n
       |    THEN list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle)
       |    ELSE CAST([] AS BIGINT[]) END) AS shs
       |  FROM th
       |), ev AS (
       |  SELECT DISTINCT unnest(shs) AS h FROM sets WHERE doc_id % $evalMod = 0
       |), hits AS (
       |  SELECT s.doc_id, count(1) AS n_eval_overlap
       |  FROM (SELECT doc_id, unnest(shs) AS h FROM sets WHERE doc_id % $evalMod <> 0) s
       |  JOIN ev USING (h) GROUP BY s.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(COALESCE(hits.n_eval_overlap, 0) AS BIGINT) AS n_eval_overlap,
       |  COALESCE(hits.n_eval_overlap, 0) >= $minOverlap AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $evalMod <> 0) d
       |LEFT JOIN hits USING (doc_id)""".stripMargin
  }

  // ---- q82 BPE pair counts ------------------------------------------------

  /** Adjacent-token-pair counts — mirrors TextAnalysis.pairCounts. */
  def pairCounts(minCount: Long): String =
    s"""WITH toks AS (
       |  SELECT $toks AS t FROM documents
       |), pairs AS (
       |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> {'a': t[i], 'b': t[i + 1]})) AS p
       |  FROM toks WHERE len(t) >= 2
       |)
       |SELECT p.a AS tok_a, p.b AS tok_b, CAST(count(1) AS BIGINT) AS pair_count
       |FROM pairs GROUP BY 1, 2 HAVING count(1) >= $minCount""".stripMargin

  // ---- q92 BPE segmentation under a fixed merge table ----------------------

  /** Per-doc subword count after segmenting every whitespace token with a
    * FIXED rank-consistent merge table (graft.text.Bpe.demoMerges) — the
    * SQL replay of Bpe.segment. Each token is encoded with every symbol
    * wrapped in chr(31) sentinels ("he…"), and the
    * merges are applied once in rank order as nested replace()s: for a
    * rank-consistent table (each pair's parts are chars or earlier merge
    * results) this equals the priority-loop apply, because a merge can
    * only ever create pairs of strictly higher rank. replace() merges
    * occurrences left-to-right without overlap, exactly like
    * Bpe.mergePair. Subwords per token = count of ""
    * boundaries + 1.
    */
  def bpeSegment(merges: Seq[(String, String)]): String = {
    require(merges.forall { case (a, b) => !a.contains("'") && !b.contains("'") },
      "merge symbols must be SQL-literal-safe")
    val S = "chr(31)"
    val applied = merges.foldLeft("w") { case (acc, (a, b)) =>
      s"replace($acc, $S||'$a'||$S||$S||'$b'||$S, $S||'$a$b'||$S)"
    }
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toks) AS t FROM documents
       |), w0 AS (
       |  SELECT doc_id, regexp_replace(t, '(.)', $S||'\\1'||$S, 'g') AS w FROM tok
       |), seg AS (
       |  SELECT doc_id, $applied AS s FROM w0
       |), cnt AS (
       |  SELECT doc_id,
       |    SUM((length(s) - length(replace(s, $S||$S, ''))) / 2 + 1) AS n
       |  FROM seg GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_subwords
       |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id""".stripMargin
  }

  /** Exact unrolled replay of BPE TRAINING (q206): the word dictionary
    * forms once (count-filtered, count-desc/word capped like `Bpe.learn`),
    * then `numMerges` rounds each count adjacent symbol pairs over the
    * chr(31)-wrapped segmentations (the [[bpeSegment]] encoding), pick the
    * (count desc, left, right) argmax, and re-segment via the
    * boundary-anchored replace — the sequential trainer `learnFromCounts`
    * is provably equal to the batched one, so the SQL replays either.
    * This is the hash anchor that keeps the 50-merge q91 honestly
    * rows-only without leaving training itself unverified.
    */
  def bpeLearnExact(numMerges: Int, minCount: Long): String = {
    val S = "chr(31)"
    val head =
      s"""tok AS (SELECT unnest($toks) AS t FROM documents),
         |wc AS (SELECT t AS word, COUNT(*) AS c FROM tok GROUP BY t
         |  HAVING COUNT(*) >= $minCount ORDER BY c DESC, word LIMIT 100000),
         |d0 AS (SELECT regexp_replace(word, '(.)', $S||'\\1'||$S, 'g') AS w, c FROM wc)""".stripMargin
    val rounds = (0 until numMerges).map { i =>
      s"""p$i AS (
         |  SELECT pr[1] AS a, pr[2] AS b, SUM(c) AS cnt FROM (
         |    SELECT c, unnest(list_zip(syms, syms[2:])) AS pr FROM (
         |      SELECT c, string_split(trim(w, chr(31)), $S||$S) AS syms FROM d$i))
         |  WHERE pr[2] IS NOT NULL GROUP BY pr[1], pr[2]),
         |m$i AS (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |d${i + 1} AS (SELECT replace(w, $S||m.a||$S||$S||m.b||$S, $S||m.a||m.b||$S) AS w, c
         |  FROM d$i, m$i m)""".stripMargin
    }
    val sel = (0 until numMerges)
      .map(i => s"""SELECT $i AS rank, a AS "left", b AS "right" FROM m$i""")
      .mkString(" UNION ALL ")
    s"""WITH ${(head +: rounds).mkString(",\n")}
       |SELECT CAST(rank AS BIGINT) AS rank, "left", "right" FROM ($sel) ORDER BY rank""".stripMargin
  }

  /** Unrolled exact replay of [[graft.similarity.Similarity.kmeansFitPortable]]
    * (q207): quantized vectors, per-round integer squared-L2 argmin (ties
    * to the lowest centroid id) and truncating-division centroid means
    * (DuckDB's integer `//` truncates toward zero, as does Scala's) — the
    * k-means sibling of the pageRank/LPA unrolled oracles. Output is the
    * final centroids posexploded to (centroid_id, pos, v) scalars.
    */
  def kmeansPortable(k: Int, iters: Int, scale: Long): String = {
    val head =
      s"""v AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS xq
         |  FROM embeddings),
         |c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cid, xq AS cq FROM (
         |  SELECT xq, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM v) WHERE rn <= $k)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (SELECT vec_id, xq, cid FROM (
         |  SELECT v.vec_id, v.xq, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_sum(list_transform(list_zip(v.xq, c.cq),
         |        p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rk
         |  FROM v, c${r - 1} c) WHERE rk = 1),
         |s$r AS (SELECT cid, pos, SUM(vv) AS s, COUNT(*) AS n FROM (
         |  SELECT cid, unnest(xq) AS vv, unnest(range(array_length(xq))) AS pos
         |  FROM a$r) GROUP BY cid, pos),
         |c$r AS (SELECT c.cid, COALESCE(m.cq2, c.cq) AS cq FROM c${r - 1} c
         |  LEFT JOIN (SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cq2
         |    FROM s$r GROUP BY cid) m ON c.cid = m.cid)""".stripMargin
    }
    s"""WITH ${(head +: rounds).mkString(",\n")}
       |SELECT cid AS centroid_id, CAST(pos AS BIGINT) AS pos, vv AS v FROM (
       |  SELECT cid, unnest(cq) AS vv, unnest(range(array_length(cq))) AS pos
       |  FROM c$iters)""".stripMargin
  }

  /** Unrolled exact replay of
    * [[graft.similarity.Similarity.kCenterGreedyPortable]] (q208):
    * quantized vectors, then k−1 farthest-first rounds — each round the
    * max over unselected rows of the min integer squared-L2 to the
    * selected set, ties to the lowest vec_id — the selection sibling of
    * the kmeans/pageRank unrolled oracles.
    */
  def kCenterPortable(k: Int, scale: Long): String = {
    val head =
      s"""v AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS xq
         |  FROM embeddings),
         |sel1 AS MATERIALIZED (SELECT 1 AS rk, vec_id, xq, CAST(0 AS BIGINT) AS md
         |  FROM v ORDER BY vec_id LIMIT 1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""pick$r AS MATERIALIZED (SELECT $r AS rk, vec_id, xq, md FROM (
         |    SELECT v.vec_id, ANY_VALUE(v.xq) AS xq,
         |      CAST(MIN(list_sum(list_transform(list_zip(v.xq, c.xq),
         |        p -> (p[1] - p[2]) * (p[1] - p[2])))) AS BIGINT) AS md
         |    FROM v, sel${r - 1} c
         |    WHERE v.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |    GROUP BY v.vec_id)
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    s"""WITH ${(head +: rounds).mkString(",\n")}
       |SELECT CAST(rk AS BIGINT) AS sel_rank, vec_id, md AS mindist_sq
       |FROM sel$k ORDER BY sel_rank""".stripMargin
  }

  /** Unrolled exact replay of
    * [[graft.similarity.Similarity.mmrSelectPortable]] (q209) with the
    * query = the lowest-vec_id embedding: integer dot-product relevance,
    * per-round all-integer score lambdaPct·rel − (100−lambdaPct)·maxsim
    * over the selected set, ties to the lowest vec_id.
    */
  def mmrPortable(k: Int, lambdaPct: Int, scale: Long): String = {
    val lo = 100 - lambdaPct
    val head =
      s"""v AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS xq
         |  FROM embeddings),
         |qv AS MATERIALIZED (SELECT xq AS qq FROM v ORDER BY vec_id LIMIT 1),
         |r AS MATERIALIZED (SELECT v.vec_id, v.xq,
         |    CAST(list_sum(list_transform(list_zip(v.xq, qv.qq),
         |      p -> p[1] * p[2])) AS BIGINT) AS rel
         |  FROM v, qv),
         |sel1 AS MATERIALIZED (SELECT 1 AS rk, vec_id, xq, $lambdaPct * rel AS sc
         |  FROM r ORDER BY sc DESC, vec_id LIMIT 1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""pick$r AS MATERIALIZED (SELECT $r AS rk, vec_id, xq, sc FROM (
         |    SELECT r.vec_id, ANY_VALUE(r.xq) AS xq,
         |      $lambdaPct * ANY_VALUE(r.rel) - $lo *
         |        CAST(MAX(list_sum(list_transform(list_zip(r.xq, c.xq),
         |          p -> p[1] * p[2]))) AS BIGINT) AS sc
         |    FROM r, sel${r - 1} c
         |    WHERE r.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |    GROUP BY r.vec_id)
         |  ORDER BY sc DESC, vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    s"""WITH ${(head +: rounds).mkString(",\n")}
       |SELECT CAST(rk AS BIGINT) AS sel_rank, vec_id, CAST(sc AS BIGINT) AS mmr_score
       |FROM sel$k ORDER BY sel_rank""".stripMargin
  }

  // ---- q111 PCA whitening / q112 softmax class ------------------------------

  /** Whitened projection under Pca.fixtureModel — mirrors Pca.transform's
    * exact arithmetic: per component a LEFT-ASSOCIATIVE sum of
    * comp_i * (x_i − mean_i) terms (the same IEEE op order as the Spark
    * expression tree), divided by the Scala-computed sqrt literal
    * (Double.toString round-trips bit-exactly).
    */
  def pcaWhiten(dim: Int, k: Int, eps: Double = 1e-9): String = {
    val m = graft.similarity.Pca.fixtureModel(dim, k)
    val comps = (0 until k).map { c =>
      val terms = (0 until dim).map(i =>
        s"(${m.components(c)(i)}) * (CAST(embedding[${i + 1}] AS DOUBLE) - (${m.mean(i)}))")
      val proj = terms.mkString(" + ") // SQL + is left-associative, like the fold
      val scale = java.lang.Double.toString(math.sqrt(m.variances(c) + eps))
      s"($proj) / $scale AS pc$c"
    }
    s"SELECT vec_id, ${comps.mkString(", ")} FROM embeddings"
  }

  /** Predicted class under Classifier.fixtureSoftmaxModel — argmax of the
    * logits (softmax is monotone, so no exp in the oracle); ties break to
    * the lowest class id, matching scoreSoftmax.
    */
  /** Mirrors Classifier.score under the fixture logreg model: the margin
    * replays dotConst's sequential fold (0.0 + t0) + t1 + … + bias with
    * the identical double literals, so it hash-matches bit-for-bit; the
    * label uses sigmoid's monotonicity (score >= 0.5 ⟺ margin >= 0) so
    * the SQL never needs exp.
    */
  def logregScore(dim: Int): String = {
    val (w, b) = graft.similarity.Classifier.fixtureLogregModel(dim)
    val terms = (0 until dim).map(i =>
      s"CAST(embedding[${i + 1}] AS DOUBLE) * (${w(i)})")
    s"""WITH m AS (SELECT vec_id,
       |    (${terms.mkString(" + ")}) + ($b) AS margin
       |  FROM embeddings)
       |SELECT vec_id, CAST(CASE WHEN margin >= 0 THEN 1 ELSE 0 END AS INT) AS quality,
       |  margin
       |FROM m""".stripMargin
  }

  def softmaxClass(dim: Int, nClasses: Int): String = {
    val (w, b) = graft.similarity.Classifier.fixtureSoftmaxModel(dim, nClasses)
    val logits = (0 until nClasses).map { c =>
      val terms = (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * (${w(c)(i)})")
      s"(${terms.mkString(" + ")}) + (${b(c)}) AS z$c"
    }
    val pick = (0 until nClasses - 1).map { c =>
      val geAll = (c + 1 until nClasses).map(o => s"z$c >= z$o").mkString(" AND ")
      s"WHEN $geAll THEN $c"
    }.mkString(" ")
    s"""WITH z AS (SELECT vec_id, ${logits.mkString(", ")} FROM embeddings)
       |SELECT vec_id, CAST(CASE $pick ELSE ${nClasses - 1} END AS INT) AS predicted_class
       |FROM z""".stripMargin
  }

  /** OvR scoring anchor (q212): per-class margins under the 2^-5-quantized
    * fixture models; argmax via sigmoid monotonicity (the fixture scale
    * keeps every margin non-saturating, so argmax(sigmoid(z)) = argmax(z)
    * — no transcendentals in SQL), ties to the lowest class id exactly
    * like Classifier.scoreOvr's struct(s, -c) greatest().
    */
  def ovrScore(dim: Int, nClasses: Int): String = {
    val models = graft.similarity.Classifier.fixtureOvrModels(dim, nClasses)
    val margins = (0 until nClasses).map { c =>
      val (w, b) = models(c)
      val terms = (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * (${w(i)})")
      s"(${terms.mkString(" + ")}) + ($b) AS z$c"
    }
    val pick = (0 until nClasses - 1).map { c =>
      val geAll = (c + 1 until nClasses).map(o => s"z$c >= z$o").mkString(" AND ")
      s"WHEN $geAll THEN $c"
    }.mkString(" ")
    s"""WITH z AS (SELECT vec_id, ${margins.mkString(", ")} FROM embeddings)
       |SELECT vec_id, CAST(CASE $pick ELSE ${nClasses - 1} END AS INT) AS predicted_class
       |FROM z""".stripMargin
  }

  // ---- q75 mixture plan ---------------------------------------------------

  /** Token-budget mixture allocation — mirrors Sampling.mixturePlan (integer
    * totals, one double division + floor per stratum: bit-stable).
    */
  def mixturePlan(budget: Long): String =
    s"""WITH per AS (
       |  SELECT lang AS stratum, count(1) AS n_docs,
       |    CAST(sum(len($toks)) AS BIGINT) AS stratum_tokens
       |  FROM documents GROUP BY lang
       |), tot AS (SELECT CAST(sum(stratum_tokens) AS BIGINT) AS total_tokens FROM per)
       |SELECT stratum, n_docs, stratum_tokens,
       |  CAST(stratum_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
       |  CAST(floor($budget.0 * (CAST(stratum_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))) AS BIGINT) AS alloc_tokens
       |FROM per CROSS JOIN tot""".stripMargin

  // ---- q45 LSH ANN --------------------------------------------------------

  def annLsh(k: Int, nPlanes: Int, bands: Int, maxQueryId: Long): String = {
    val width = nPlanes / bands
    val mask = (1L << width) - 1
    // planeSignPositive(p, d0): bit 15 of ((p*2654435761 + d0) % P) * 1103515245 + 12345) % 2^31
    val sign = s"((((((p * 2654435761 + (d - 1)) % $P) * 1103515245 + 12345) % 2147483648) >> 15) & 1) = 0"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (
       |  SELECT vec_id, v, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(0, ${nPlanes - 1}), p ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(generate_series(1, len(v)), d -> CASE WHEN $sign THEN v[d] ELSE -v[d] END)),
       |          (sa, sx) -> sa + sx) > 0
       |      THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)),
       |    (pa, px) -> pa + px) AS sg
       |  FROM e
       |), banded AS (
       |  SELECT vec_id, v, band, (sg >> (band * $width)) & $mask AS key
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bands - 1})) AS band) b
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, q.v AS qv, c.vec_id AS neighbor_id, c.v AS cv
       |  FROM banded q JOIN banded c ON q.band = c.band AND q.key = c.key AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $maxQueryId
       |), scored AS (SELECT query_id, neighbor_id, ${cosine("qv", "cv")} AS cosine FROM cand)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM scored)
       |WHERE rk <= $k""".stripMargin
  }

  // ---- q100 overlap-coefficient containment -------------------------------

  /** Mirrors Dedup.overlapCandidates on the 1-in-`sampleMod` doc sample:
    * same shingle join as ngramJaccard, score = common / least(|A|, |B|).
    */
  def overlapCandidates(n: Int, threshold: Double, sampleMod: Int): String = {
    val shingle = horner((0 until n).map(j => s"hs[i + $j]"))
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |  WHERE doc_id % $sampleMod = 0
       |), sh0 AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(hs) - ${n - 1}), i -> $shingle)) AS shs
       |  FROM th WHERE len(hs) >= $n
       |), sh AS (
       |  SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS shingle FROM sh0
       |), common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(1) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b, containment FROM (
       |  SELECT id_a, id_b, CAST(common AS DOUBLE) / least(n_a, n_b) AS containment FROM common)
       |WHERE containment >= $threshold""".stripMargin
  }

  // ---- q97 novelty filter --------------------------------------------------

  /** Mirrors Dedup.noveltyFilter with batch = doc_id%`sampleMod`=0, corpus =
    * the rest: batch rows whose token fingerprint has no corpus occurrence.
    * NOT EXISTS (not NOT IN) so a null fingerprint in either side matches
    * Spark's null-key anti-join semantics.
    */
  def noveltyFilter(sampleMod: Int): String =
    s"""WITH fp AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    md5(array_to_string($toks, ' ')) AS fp FROM documents
       |)
       |SELECT doc_id, text, lang, source, n_chars FROM fp b
       |WHERE b.doc_id % $sampleMod = 0 AND NOT EXISTS (
       |  SELECT 1 FROM fp c WHERE c.doc_id % $sampleMod <> 0 AND c.fp = b.fp)""".stripMargin

  // ---- q98 temperature mixture plan ---------------------------------------

  /** Mirrors Sampling.mixturePlanTemperature at τ=2: integer weights
    * floor(sqrt(stratum_tokens)), integer total, exactly rounded mul/div.
    */
  def mixturePlanTemperature(budget: Long): String =
    s"""WITH per AS (
       |  SELECT lang AS stratum, count(1) AS n_docs,
       |    CAST(sum(len($toks)) AS BIGINT) AS stratum_tokens
       |  FROM documents GROUP BY lang
       |), wt AS (
       |  SELECT stratum, n_docs, stratum_tokens,
       |    CAST(floor(sqrt(CAST(stratum_tokens AS DOUBLE))) AS BIGINT) AS weight
       |  FROM per
       |), tot AS (SELECT CAST(sum(weight) AS BIGINT) AS total_weight FROM wt)
       |SELECT stratum, n_docs, stratum_tokens, weight,
       |  CAST(floor($budget.0 * CAST(weight AS DOUBLE) / CAST(total_weight AS DOUBLE)) AS BIGINT) AS alloc_tokens
       |FROM wt CROSS JOIN tot""".stripMargin

  // ---- q114 n-gram LM score ------------------------------------------------

  /** Mirrors text.NgramLm: fit add-one-smoothed n-gram counts on the
    * doc_id % fitMod = 0 half, score every doc with ≥ n tokens. The graded
    * columns avoid `log`: each gram's (c+1)/(c_ctx+V) is one exactly
    * rounded IEEE division, scaled by 2^30 (exact) and floored — bit-equal
    * across engines.
    */
  def lmScore(n: Int, fitMod: Int): String = {
    val gram = horner((0 until n).map(j => s"hs[i + $j]"))
    val ctx = horner((0 until n - 1).map(j => s"hs[i + $j]"))
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), fit AS (
       |  SELECT hs FROM th WHERE doc_id % $fitMod = 0 AND len(hs) >= $n
       |), voc AS (
       |  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(hs) AS t FROM fit)
       |), fitpos AS (
       |  SELECT hs, unnest(generate_series(1, len(hs) - ${n - 1})) AS i FROM fit
       |), grams AS (
       |  SELECT $gram AS gram, count(1) AS cg FROM fitpos GROUP BY 1
       |), ctxs AS (
       |  SELECT $ctx AS ctx, count(1) AS cc FROM fitpos GROUP BY 1
       |), scored AS (
       |  SELECT doc_id, $gram AS gram, $ctx AS ctx
       |  FROM (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - ${n - 1})) AS i
       |        FROM th WHERE len(hs) >= $n)
       |)
       |SELECT doc_id,
       |  CAST(count(1) AS BIGINT) AS n_ngrams,
       |  CAST(sum(CASE WHEN g.cg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(CAST(floor(CAST(COALESCE(g.cg, 0) + 1 AS DOUBLE)
       |    / CAST(COALESCE(c.cc, 0) + (SELECT v FROM voc) AS DOUBLE) * ${graft.text.NgramLm.Scale}) AS BIGINT)) AS BIGINT) AS sum_pq
       |FROM scored s LEFT JOIN grams g USING (gram) LEFT JOIN ctxs c USING (ctx)
       |GROUP BY 1""".stripMargin
  }

  /** Mirrors NgramLm.importanceScore: target and background add-one models
    * fit on disjoint doc_id slices, scored on one shared (gram, ctx)
    * spine; weight_q is the exact long difference of the quantized masses.
    */
  def lmImportance(n: Int, targetMod: Int, targetRem: Int, backgroundRem: Int): String = {
    val gram = horner((0 until n).map(j => s"hs[i + $j]"))
    val ctx = horner((0 until n - 1).map(j => s"hs[i + $j]"))
    val scale = graft.text.NgramLm.Scale
    def fitCtes(tag: String, rem: Int): String =
      s"""fit_$tag AS (
         |  SELECT hs FROM th WHERE doc_id % $targetMod = $rem AND len(hs) >= $n
         |), voc_$tag AS (
         |  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(hs) AS t FROM fit_$tag)
         |), pos_$tag AS (
         |  SELECT hs, unnest(generate_series(1, len(hs) - ${n - 1})) AS i FROM fit_$tag
         |), grams_$tag AS (
         |  SELECT $gram AS gram, count(1) AS cg FROM pos_$tag GROUP BY 1
         |), ctxs_$tag AS (
         |  SELECT $ctx AS ctx, count(1) AS cc FROM pos_$tag GROUP BY 1
         |)""".stripMargin
    def sumPq(tag: String): String =
      s"""CAST(sum(CAST(floor(CAST(COALESCE(g$tag.cg, 0) + 1 AS DOUBLE)
         |    / CAST(COALESCE(c$tag.cc, 0) + (SELECT v FROM voc_$tag) AS DOUBLE) * $scale) AS BIGINT)) AS BIGINT)""".stripMargin
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), ${fitCtes("t", targetRem)}, ${fitCtes("b", backgroundRem)},
       |scored AS (
       |  SELECT doc_id, $gram AS gram, $ctx AS ctx
       |  FROM (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - ${n - 1})) AS i
       |        FROM th WHERE len(hs) >= $n)
       |)
       |SELECT doc_id,
       |  CAST(count(1) AS BIGINT) AS n_ngrams,
       |  ${sumPq("t")} AS sum_pq_target,
       |  ${sumPq("b")} AS sum_pq_background,
       |  ${sumPq("t")} - ${sumPq("b")} AS weight_q
       |FROM scored s
       |LEFT JOIN grams_t gt USING (gram) LEFT JOIN ctxs_t ct USING (ctx)
       |LEFT JOIN grams_b gb USING (gram) LEFT JOIN ctxs_b cb USING (ctx)
       |GROUP BY 1""".stripMargin
  }

  /** Mirrors NgramLm.scoreBackoff: stupid backoff with α = 0.5 — seen
    * grams floor(2^30 · cg/cc), backoff positions floor(2^29 · (cu+1)/(T+V))
    * (α·2^30 folded to 2^29 exactly). Quantized longs before the per-doc
    * sum, as in lmScore.
    */
  def lmScoreBackoff(n: Int, fitMod: Int): String = {
    val gram = horner((0 until n).map(j => s"hs[i + $j]"))
    val ctx = horner((0 until n - 1).map(j => s"hs[i + $j]"))
    val scale = graft.text.NgramLm.Scale
    s"""WITH th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM documents
       |), fit AS (
       |  SELECT hs FROM th WHERE doc_id % $fitMod = 0 AND len(hs) >= $n
       |), unis AS (
       |  SELECT u AS uni, count(1) AS cu FROM (SELECT unnest(hs) AS u FROM fit) GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(cu) AS BIGINT) AS t, CAST(count(1) AS BIGINT) AS v FROM unis
       |), fitpos AS (
       |  SELECT hs, unnest(generate_series(1, len(hs) - ${n - 1})) AS i FROM fit
       |), grams AS (
       |  SELECT $gram AS gram, count(1) AS cg FROM fitpos GROUP BY 1
       |), ctxs AS (
       |  SELECT $ctx AS ctx, count(1) AS cc FROM fitpos GROUP BY 1
       |), scored AS (
       |  SELECT doc_id, $gram AS gram, $ctx AS ctx, hs[i + ${n - 1}] AS uni
       |  FROM (SELECT doc_id, hs, unnest(generate_series(1, len(hs) - ${n - 1})) AS i
       |        FROM th WHERE len(hs) >= $n)
       |)
       |SELECT doc_id,
       |  CAST(count(1) AS BIGINT) AS n_ngrams,
       |  CAST(sum(CASE WHEN g.cg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
       |  CAST(sum(CASE WHEN g.cg IS NOT NULL
       |    THEN CAST(floor(CAST(g.cg AS DOUBLE) / CAST(c.cc AS DOUBLE) * $scale.0) AS BIGINT)
       |    ELSE CAST(floor(CAST(COALESCE(u.cu, 0) + 1 AS DOUBLE)
       |      / CAST((SELECT t FROM tot) + (SELECT v FROM tot) AS DOUBLE) * ${scale / 2}.0) AS BIGINT)
       |  END) AS BIGINT) AS sum_sq
       |FROM scored s LEFT JOIN grams g USING (gram) LEFT JOIN ctxs c USING (ctx)
       |     LEFT JOIN unis u USING (uni)
       |GROUP BY 1""".stripMargin
  }

  // ---- q115 BM25 top-k -----------------------------------------------------

  /** Mirrors Search.bm25TopK: per (doc, term) the BM25 tf factor times the
    * rational Robertson idf, scaled by 2^20 and floored to BIGINT before
    * the per-doc sum (summation order can't perturb longs). Constant
    * strings come from the same Scala doubles the engine uses
    * (shortest-round-trip toString re-parses to the identical double), and
    * every +,×,÷ matches the engine's association — all exactly-rounded
    * IEEE ops, no transcendentals in graded columns.
    */
  def bm25(terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): String = {
    val termValues = terms.distinct.map(t => s"('$t')").mkString(", ")
    val k1p1 = (k1 + 1.0).toString
    val oneMinusB = (1.0 - b).toString
    s"""WITH q(term) AS (VALUES $termValues),
       |tf AS (
       |  SELECT doc_id, term, count(1) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
       |  GROUP BY 1, 2
       |), dfreq AS (SELECT term, count(1) AS df FROM tf GROUP BY 1),
       |lengths AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT CAST(count(1) AS BIGINT) AS n,
       |  CAST(sum(dl) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avgdl FROM lengths),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(floor(
       |      CAST(t.tf AS DOUBLE) * $k1p1 /
       |        (CAST(t.tf AS DOUBLE) + $k1 * ($oneMinusB + $b * CAST(l.dl AS DOUBLE) / s.avgdl))
       |      * ((CAST(s.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
       |      * ${graft.text.Search.Scale}.0) AS BIGINT) AS sq
       |  FROM tf t JOIN q USING (term) JOIN dfreq d USING (term)
       |       JOIN lengths l USING (doc_id), stats s
       |)
       |SELECT doc_id, score_q, n_terms, rank FROM (
       |  SELECT doc_id, CAST(sum(sq) AS BIGINT) AS score_q,
       |    CAST(count(1) AS BIGINT) AS n_terms,
       |    CAST(row_number() OVER (ORDER BY CAST(sum(sq) AS BIGINT) DESC, doc_id) AS INT) AS rank
       |  FROM scored GROUP BY doc_id)
       |WHERE rank <= $k""".stripMargin
  }

  // ---- q119 corpus report --------------------------------------------------

  /** Per-(source, lang) dataset-card accounting. Integer sums cast to
    * BIGINT (DuckDB HUGEINT otherwise); the exact median of small-integer
    * token counts is portable — both engines average the two middle values
    * as doubles, exact below 2^52.
    */
  def corpusReport: String =
    s"""SELECT source, lang, count(1) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
       |  min(tok) AS min_tokens, max(tok) AS max_tokens,
       |  CAST(median(tok) AS DOUBLE) AS med_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM (SELECT source, lang, CAST(len($toks) AS BIGINT) AS tok, n_chars FROM documents)
       |GROUP BY 1, 2""".stripMargin

  // ---- q118 hybrid RRF -----------------------------------------------------

  /** Mirrors Search.rrfFuse over the q115 BM25 ranking and the q44-style
    * brute-force cosine ranking for query vector 0: each list contributes
    * floor(2^20 / (rrfK + rank)) — one exactly-rounded division — summed
    * as longs per doc, fused rank tie-broken on doc_id.
    */
  def hybridRrf(terms: Seq[String], k: Int, rrfK: Int): String = {
    val scale = graft.text.Search.Scale
    s"""WITH bmtop AS (SELECT doc_id, rank FROM (${bm25(terms, k)})),
       |anntop AS (SELECT neighbor_id AS doc_id, rank FROM (${annBrute(k, 1L)})),
       |contribs AS (
       |  SELECT doc_id, CAST(floor($scale.0 / ($rrfK.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS c
       |  FROM bmtop
       |  UNION ALL
       |  SELECT doc_id, CAST(floor($scale.0 / ($rrfK.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS c
       |  FROM anntop
       |), fused AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_q, CAST(count(1) AS BIGINT) AS n_lists
       |  FROM contribs GROUP BY 1
       |)
       |SELECT doc_id, rrf_q, n_lists,
       |  CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS INT) AS rank
       |FROM fused""".stripMargin
  }

  // ---- q99 TF-IDF top terms ------------------------------------------------

  /** Mirrors TextAnalysis.topTerms: tf/df ratio score (one exactly rounded
    * division — no logs, so the oracle is bit-stable), top `k` per doc with
    * ties broken by the term's binary order.
    */
  def topTerms(k: Int): String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(1) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
       |  GROUP BY 1, 2
       |), dfreq AS (SELECT term, count(1) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, term, tf, df, score, term_rank FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, d.df,
       |    CAST(tf.tf AS DOUBLE) / CAST(d.df AS DOUBLE) AS score,
       |    CAST(row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(d.df AS DOUBLE) DESC, tf.term) AS INT) AS term_rank
       |  FROM tf JOIN dfreq d USING (term))
       |WHERE term_rank <= $k""".stripMargin

  // ---- q144/q145 URL canonicalization -------------------------------------

  /** SQL mirror of SparkEntry.urlZoo (q144). */
  private def urlZooSql(page: String): String =
    s"""CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END ||
       |      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
       |      source || '.Example.COM' ||
       |      CASE WHEN doc_id % 10 = 0 THEN ':8080'
       |           WHEN doc_id % 5 = 0 THEN CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
       |           ELSE '' END ||
       |      CASE WHEN doc_id % 4 = 0 THEN '/Pages/' || $page || '?utm_source=feed&utm_medium=rss&page=2'
       |           WHEN doc_id % 4 = 1 THEN '/'
       |           WHEN doc_id % 4 = 2 THEN '/a b/' || $page || '?q=term&gclid=abc&ref=x'
       |           ELSE '/Pages/' || $page || '?id=' || $page END ||
       |      CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END""".stripMargin

  /** SQL mirror of SparkEntry.urlVariants (q145). */
  private def urlVariantsSql(page: String): String =
    s"""CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
       |      CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
       |      CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
       |      '.Example.com' ||
       |      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
       |      '/p/' || $page || '?id=' || $page ||
       |      CASE WHEN doc_id % 4 = 0 THEN '&utm_source=x&utm_medium=y' ELSE '' END ||
       |      CASE WHEN doc_id % 4 = 2 THEN '&fbclid=zz' ELSE '' END ||
       |      CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END""".stripMargin

  /** CTE chain replaying UrlOps.normalizeUrl over a `raw(..., url)` CTE;
    * the pattern/alternation strings come from UrlOps itself so the two
    * sides cannot drift.
    */
  private def normalizeCtes: String = {
    val trk = s"([?&])(${graft.text.UrlOps.trackingParams.mkString("|")})=[^&#]*&?"
    s"""defrag AS (SELECT *, trim(regexp_replace(trim(url), '#.*$$', '')) AS u FROM raw),
       |pieces AS (
       |  SELECT *,
       |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_replace(lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)), '^www\\.', '') AS a1,
       |    regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*(.*)$$', 2) AS rest0
       |  FROM defrag),
       |restc AS (
       |  SELECT *,
       |    CASE WHEN scheme = 'http' THEN regexp_replace(a1, ':80$$', '')
       |         WHEN scheme = 'https' THEN regexp_replace(a1, ':443$$', '')
       |         ELSE a1 END AS auth,
       |    regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(rest0,
       |        '$trk', '\\1', 'g'), '$trk', '\\1', 'g'), '$trk', '\\1', 'g'),
       |      '[?&]$$', '') AS r2
       |  FROM pieces),
       |norm AS (
       |  SELECT *, CASE WHEN auth = '' THEN u
       |    ELSE scheme || '://' || auth || (CASE WHEN r2 = '/' THEN '' ELSE r2 END) END AS url_norm
       |  FROM restc)""".stripMargin
  }

  /** Mirrors q144: urlZoo → normalizeUrl → withUrlParts. */
  def urlNormalize: String =
    s"""WITH raw AS (
       |  SELECT doc_id, source,
       |    ${urlZooSql("CAST(doc_id AS VARCHAR)")} AS url
       |  FROM documents),
       |$normalizeCtes
       |SELECT doc_id, url, url_norm,
       |  regexp_extract(url_norm, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)', 2) AS host,
       |  regexp_extract(regexp_extract(url_norm, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)', 2),
       |    '([A-Za-z0-9-]+\\.[A-Za-z0-9-]+)$$', 1) AS domain,
       |  regexp_extract(url_norm, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS path
       |FROM norm""".stripMargin

  /** Mirrors q145: urlVariants → dedupByUrl (min doc_id per canonical). */
  def urlDedup: String =
    s"""WITH raw AS (
       |  SELECT doc_id, source,
       |    ${urlVariantsSql("CAST(doc_id % 97 AS VARCHAR)")} AS url
       |  FROM documents),
       |$normalizeCtes,
       |win AS (SELECT url_norm, min(doc_id) AS doc_id FROM norm GROUP BY 1)
       |SELECT w.doc_id, r.source, w.url_norm FROM win w JOIN norm r ON w.doc_id = r.doc_id""".stripMargin

  // ---- q146 KMV set operations --------------------------------------------

  /** Mirrors Sketches.kmvSketch + kmvSetOps over per-source vocabularies:
    * bottom-k distinct portable hashes per source, pairwise merged bottom-k
    * (the union sketch), theta-style Jaccard / intersection estimators with
    * the exact expression trees of the Spark side.
    */
  def kmvSetOps(k: Int): String = {
    val kb = (k - 1).toLong * (1L << 30)
    s"""WITH tok AS (SELECT source, unnest($toks) AS term FROM documents),
       |hs AS (SELECT DISTINCT source, ${hashBucket("term", "kmv", 1L << 30)} AS h FROM tok),
       |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM hs),
       |sk AS (SELECT source, h FROM rk WHERE r <= $k),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |pairs AS (SELECT a.source AS sa, b.source AS sb FROM srcs a JOIN srcs b ON a.source < b.source),
       |uni AS (
       |  SELECT p.sa, p.sb, s.h,
       |    bool_or(s.source = p.sa) AS in_a, bool_or(s.source = p.sb) AS in_b
       |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
       |  GROUP BY 1, 2, 3),
       |m AS (
       |  SELECT sa, sb, count(1) AS n_union, max(h) AS kth_raw,
       |    sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_common
       |  FROM (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r FROM uni)
       |  WHERE r <= $k GROUP BY 1, 2),
       |e AS (
       |  SELECT sa, sb, CAST(n_union AS INT) AS n_union_mins,
       |    CASE WHEN n_union = $k THEN kth_raw ELSE CAST(-1 AS BIGINT) END AS union_kth,
       |    CAST(n_common AS INT) AS n_common_mins
       |  FROM m),
       |e2 AS (
       |  SELECT *,
       |    CASE WHEN n_union_mins < $k THEN CAST(n_union_mins AS DOUBLE)
       |         ELSE CAST($kb AS DOUBLE) / CAST(union_kth AS DOUBLE) END AS union_est,
       |    CASE WHEN n_union_mins = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(n_common_mins AS DOUBLE) / CAST(n_union_mins AS DOUBLE) END AS jaccard_est
       |  FROM e)
       |SELECT sa AS source_a, sb AS source_b, n_union_mins, union_kth, union_est,
       |  n_common_mins, jaccard_est, jaccard_est * union_est AS inter_est
       |FROM e2""".stripMargin
  }

  // ---- q147 gap fill -------------------------------------------------------

  /** Mirrors WindowOps.gapFill on hourly buckets of events: latest value
    * per (key, bucket) by (ts, event_id), dense grid per key, fill-forward
    * expressed as DuckDB's ASOF join (latest bucket at-or-before ≡ the
    * window last(ignoreNulls)).
    */
  def gapFill(keyMod: Int, stepUs: Long): String =
    s"""WITH e AS (SELECT user_id % $keyMod AS ukey, epoch_us(ts) AS ts_us, value, event_id FROM events),
       |b0 AS (SELECT *, ts_us - (ts_us % $stepUs) AS bucket FROM e),
       |v AS (SELECT ukey, bucket, value AS v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ukey, bucket ORDER BY ts_us DESC, event_id DESC) AS r
       |    FROM b0) WHERE r = 1),
       |bounds AS (SELECT ukey, min(bucket) AS mn, max(bucket) AS mx FROM v GROUP BY 1),
       |g AS (SELECT ukey, unnest(generate_series(mn, mx, $stepUs)) AS bucket FROM bounds)
       |SELECT g.ukey, g.bucket, coalesce(v.bucket = g.bucket, FALSE) AS observed, v.v AS value
       |FROM g ASOF LEFT JOIN v ON g.ukey = v.ukey AND g.bucket >= v.bucket""".stripMargin

  // ---- q149 rolling anomaly ------------------------------------------------

  /** Mirrors q149: gapFill → floor-quantized value → WindowOps.rollingStats
    * (trailing `window` frame; exact integer frame sums; the mean/var/z
    * trees below are written in the exact operation order of the Spark
    * side, all exactly-rounded double ops + IEEE sqrt).
    */
  def rollingAnomaly(keyMod: Int, stepUs: Long, window: Int,
                     zThreshold: Double): String = {
    val meanSql = "CAST(roll_sum AS DOUBLE) / CAST(roll_n AS DOUBLE)"
    s"""WITH e AS (SELECT user_id % $keyMod AS ukey, epoch_us(ts) AS ts_us, value, event_id FROM events),
       |b0 AS (SELECT *, ts_us - (ts_us % $stepUs) AS bucket FROM e),
       |v AS (SELECT ukey, bucket, value AS v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ukey, bucket ORDER BY ts_us DESC, event_id DESC) AS r
       |    FROM b0) WHERE r = 1),
       |bounds AS (SELECT ukey, min(bucket) AS mn, max(bucket) AS mx FROM v GROUP BY 1),
       |g AS (SELECT ukey, unnest(generate_series(mn, mx, $stepUs)) AS bucket FROM bounds),
       |f AS (SELECT g.ukey, g.bucket, CAST(floor(v.v * 1000) AS BIGINT) AS qv
       |  FROM g ASOF LEFT JOIN v ON g.ukey = v.ukey AND g.bucket >= v.bucket),
       |r AS (SELECT ukey, bucket, qv,
       |    count(1) OVER w AS roll_n, sum(qv) OVER w AS roll_sum, sum(qv * qv) OVER w AS roll_sumsq
       |  FROM f WINDOW w AS (PARTITION BY ukey ORDER BY bucket
       |    ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW)),
       |est AS (SELECT ukey, bucket, qv, roll_n,
       |    $meanSql AS roll_mean,
       |    CAST(roll_sumsq AS DOUBLE) / CAST(roll_n AS DOUBLE) - ($meanSql) * ($meanSql) AS roll_var
       |  FROM r),
       |z AS (SELECT *, CASE WHEN roll_var > 0
       |    THEN (CAST(qv AS DOUBLE) - roll_mean) / sqrt(roll_var) END AS zscore FROM est)
       |SELECT ukey, bucket, qv, roll_n, roll_mean, roll_var, zscore,
       |  (zscore IS NOT NULL AND abs(zscore) > $zThreshold) AS is_anomaly FROM z""".stripMargin
  }

  /** Mirrors Sketches.quantileBins on events.value per event_type: the
    * quantileSketch bottom-k sample, i/nBins nearest-rank boundaries, and
    * bin = count of boundaries <= value (pure comparisons).
    */
  def quantileBins(nBins: Int, k: Int): String = {
    val qs = (1 until nBins).map(_.toDouble / nBins)
    val bcols = qs.zipWithIndex.map { case (q, i) =>
      s"vs[CAST(floor($q * (n_sample - 1)) + 1 AS INT)] AS b$i"
    }.mkString(", ")
    val bin = (0 until nBins - 1)
      .map(i => s"CASE WHEN e.value >= b.b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH s AS (
       |  SELECT event_type, value AS v, ${hashBucket("event_id", "qsk", 1L << 30)} AS h FROM events),
       |r AS (SELECT event_type, v, row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rk FROM s),
       |gq AS (SELECT event_type, list(v ORDER BY v) AS vs, count(1) AS n_sample
       |  FROM r WHERE rk <= $k GROUP BY 1),
       |b AS (SELECT event_type, $bcols FROM gq)
       |SELECT e.event_id, e.event_type, e.value, CAST($bin AS INT) AS bin
       |FROM events e JOIN b USING (event_type)""".stripMargin
  }

  /** Mirrors Aggregations.corrMatrix over quantized lineitem numerics:
    * one moments row, six pair SELECTs with the Spark side's exact
    * mean/cov/var/corr operation order.
    */
  def corrMatrix: String = {
    val defs = Seq(
      "qty" -> "CAST(floor(l_quantity) AS BIGINT)",
      "price" -> "CAST(floor(l_extendedprice) AS BIGINT)",
      "disc" -> "CAST(floor(l_discount * 100) AS BIGINT)",
      "tax" -> "CAST(floor(l_tax * 100) AS BIGINT)")
    val names = defs.map(_._1)
    val idx = names.indices
    val qcols = defs.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val moments = (Seq("CAST(count(1) AS BIGINT) AS n") ++
      idx.map(i => s"sum(${names(i)}) AS s$i") ++
      (for (i <- idx; j <- idx if i <= j)
        yield s"sum(${names(i)} * ${names(j)}) AS ss${i}_$j")).mkString(", ")
    def mean(i: Int) = s"(CAST(s$i AS DOUBLE) / CAST(n AS DOUBLE))"
    def variance(i: Int) =
      s"(CAST(ss${i}_$i AS DOUBLE) / CAST(n AS DOUBLE) - ${mean(i)} * ${mean(i)})"
    val pairs = (for (i <- idx; j <- idx if i < j) yield {
      val cov = s"(CAST(ss${i}_$j AS DOUBLE) / CAST(n AS DOUBLE) - ${mean(i)} * ${mean(j)})"
      s"""SELECT '${names(i)}' AS col_a, '${names(j)}' AS col_b, n,
         |  ${mean(i)} AS mean_a, ${mean(j)} AS mean_b, $cov AS cov,
         |  CASE WHEN ${variance(i)} > 0 AND ${variance(j)} > 0
         |    THEN $cov / sqrt(${variance(i)} * ${variance(j)}) END AS corr
         |FROM g""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT $qcols FROM lineitem),
       |g AS (SELECT $moments FROM q)
       |$pairs""".stripMargin
  }

  /** Mirrors Matrix.kCore, which also runs a fixed number of peels:
    * `rounds` nested degree-filter CTE triples, then the degrees of the
    * edges left.
    */
  def kCore(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: DuckDB inlines CTEs by default, and each round
    // references the previous THREE times - unmaterialized, the expansion
    // is 3^rounds copies of the base scan
    val peels = (0 until rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT n, count(1) AS d FROM (SELECT u AS n FROM e$r UNION ALL SELECT v FROM e$r) GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= $k),
         |e${r + 1} AS MATERIALIZED (SELECT e$r.u, e$r.v FROM e$r JOIN k$r a ON e$r.u = a.n JOIN k$r b ON e$r.v = b.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT doc_id // 8 AS a, doc_id // 8 + 1 + doc_id % 8 AS b FROM documents),
       |e0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
       |$peels
       |SELECT n AS node, CAST(count(1) AS BIGINT) AS degree
       |FROM (SELECT u AS n FROM e$rounds UNION ALL SELECT v FROM e$rounds) GROUP BY 1""".stripMargin
  }

  /** Mirrors TextAnalysis.withReadability (+ the q160 punctuation salt). */
  def readability: String =
    s"""WITH s AS (SELECT doc_id,
       |    text || CASE WHEN doc_id % 2 = 0 THEN '. Extra sentence! And another?' ELSE '' END AS text
       |  FROM documents),
       |f AS (SELECT doc_id,
       |    CAST(len($toks) AS BIGINT) AS n_words,
       |    greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
       |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syllables
       |  FROM s)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  CASE WHEN n_words > 0 THEN CAST(206.835 AS DOUBLE)
       |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       |  END AS flesch
       |FROM f""".stripMargin

  /** Mirrors Behavior.concurrency: the same boundary deltas, replayed as a
    * plain running sum (DuckDB's single window ≡ the operator's two-phase
    * bucketed cumsum — the bucketing is a parallelization detail, not a
    * semantic one).
    */
  def concurrency: String =
    s"""WITH iv AS (SELECT epoch_us(ts) AS s,
       |    epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
       |  FROM events),
       |d AS (SELECT t, CAST(sum(dlt) AS BIGINT) AS net FROM (
       |    SELECT s AS t, 1 AS dlt FROM iv UNION ALL SELECT e, -1 FROM iv)
       |  GROUP BY 1)
       |SELECT t, net, CAST(sum(net) OVER (ORDER BY t) AS BIGINT) AS concurrent
       |FROM d""".stripMargin

  /** Mirrors Relational.skyline via the textbook NOT EXISTS dominance test
    * — deliberately INDEPENDENT of the operator's grid-prune + refine
    * decomposition, so it checks the algebra, not the implementation.
    */
  def skyline: String =
    s"""WITH p AS (SELECT p_partkey, p_size, p_retailprice FROM part)
       |SELECT * FROM p a WHERE NOT EXISTS (
       |  SELECT 1 FROM p b
       |  WHERE b.p_retailprice >= a.p_retailprice AND b.p_size <= a.p_size
       |    AND (b.p_retailprice > a.p_retailprice OR b.p_size < a.p_size))""".stripMargin

  /** Mirrors Sketches.cmsBuild ×2 + cmsJoinSize on the orders⋈customer
    * key: both hash grids replayed cell-for-cell, then min over depth rows
    * of the bucket-count inner product. Integer-only.
    */
  def cmsJoinSize(depth: Int, width: Int): String = {
    def grid(alias: String, keyExpr: String, table: String) = {
      val ent = (0 until depth).map { i =>
        s"SELECT $i AS d, ${hashBucket(keyExpr, s"cms$i", width)} AS bucket FROM $table"
      }.mkString("\n  UNION ALL ")
      s"$alias AS (SELECT d, bucket, count(*) AS cnt FROM (\n  $ent) GROUP BY 1, 2)"
    }
    s"""WITH ${grid("ca", "o_custkey", "orders")},
       |${grid("cb", "c_custkey", "customer")},
       |dot AS (SELECT ca.d, sum(ca.cnt * cb.cnt) AS dt
       |  FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket GROUP BY 1)
       |SELECT CAST(min(dt) AS BIGINT) AS est_join_size FROM dot""".stripMargin
  }

  /** Mirrors TextAnalysis.featureHash: identical portable token-bucket
    * hash, integer term frequencies.
    */
  def featureHash(dim: Int): String =
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents)
       |SELECT doc_id, CAST(${hashBucket("term", "fh", dim)} AS INT) AS idx,
       |  CAST(count(*) AS BIGINT) AS w
       |FROM tk GROUP BY 1, 2""".stripMargin

  /** Mirrors Behavior.chiSquare on customer (mktsegment × nationkey%5):
    * identical cell/marginal integers, per-cell (o−e)²/e as the same
    * double tree, quantized to nanos before the cross-cell sum.
    */
  def chiSquare: String =
    s"""WITH t AS (SELECT c_mktsegment AS a, c_nationkey % 5 AS b FROM customer),
       |o AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM t GROUP BY 1, 2),
       |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM o GROUP BY 1),
       |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM o GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |  CAST(count(DISTINCT a) AS BIGINT) AS da,
       |  CAST(count(DISTINCT b) AS BIGINT) AS db FROM o),
       |cells AS (SELECT ra.a, cb.b, ra.ra, cb.cb, coalesce(o.o, 0) AS o
       |  FROM ra CROSS JOIN cb LEFT JOIN o ON o.a = ra.a AND o.b = cb.b),
       |e AS (SELECT cells.o, n, da, db,
       |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) AS e
       |  FROM cells CROSS JOIN tot),
       |q AS (SELECT CAST(floor(
       |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e * 1e9
       |  ) AS BIGINT) AS qv, n, da, db FROM e)
       |SELECT CAST(sum(qv) AS DOUBLE) / 1e9 AS chi2,
       |  CAST((da - 1) * (db - 1) AS BIGINT) AS dof, n,
       |  sqrt((CAST(sum(qv) AS DOUBLE) / 1e9)
       |    / (CAST(n AS DOUBLE) * CAST(least(da - 1, db - 1) AS DOUBLE))) AS cramers_v
       |FROM q GROUP BY n, da, db""".stripMargin

  /** Mirrors TextAnalysis.featureHashTfidf: the featureHash triples plus
    * the identical single tf·ln(N/df) weight expression.
    */
  def featureHashTfidf(dim: Int): String =
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |s AS (SELECT doc_id, CAST(${hashBucket("term", "fh", dim)} AS INT) AS idx,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM tk GROUP BY 1, 2),
       |d AS (SELECT idx, CAST(count(*) AS BIGINT) AS df FROM s GROUP BY 1),
       |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM s)
       |SELECT s.doc_id, s.idx, s.w,
       |  CAST(CAST(floor(CAST(s.w AS DOUBLE)
       |    * ln(CAST(nn.n AS DOUBLE) / CAST(d.df AS DOUBLE)) * 1e6) AS BIGINT)
       |    AS DOUBLE) / 1e6 AS w_tfidf
       |FROM s JOIN d USING (idx) CROSS JOIN nn""".stripMargin

  // ---- q150/q151 behavioral analytics --------------------------------------

  /** Mirrors Behavior.funnel for event_type step predicates: stage CTEs of
    * min-after-previous times, left-joined into the step-0 frontier.
    */
  def funnel(steps: Seq[String], maxSpan: Option[Long] = None): String = {
    val stages = steps.zipWithIndex.drop(1).map { case (st, i) =>
      // each stage carries the step-0 anchor (a0) so the conversion
      // window can bound from it, the same t0 the operator carries
      val prevT0 = if (i == 1) "s0.t0" else s"s${i - 1}.a0"
      val window = maxSpan.map(s => s" AND e.ts_us <= $prevT0 + $s").getOrElse("")
      s"""s$i AS (SELECT e.user_id, $prevT0 AS a0, min(e.ts_us) AS t$i FROM e
         |  JOIN s${i - 1} ON e.user_id = s${i - 1}.user_id AND e.ts_us > s${i - 1}.t${i - 1}$window
         |  WHERE e.event_type = '$st' GROUP BY 1, 2)""".stripMargin
    }
    val joins = steps.indices.drop(1).map(i => s"LEFT JOIN s$i USING (user_id)").mkString(" ")
    val tcols = steps.indices.map(i => s"t$i").mkString(", ")
    val depth = steps.indices
      .map(i => s"CASE WHEN t$i IS NOT NULL THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
       |s0 AS (SELECT user_id, min(ts_us) AS t0 FROM e WHERE event_type = '${steps.head}' GROUP BY 1),
       |${stages.mkString(",\n")}
       |SELECT user_id, $tcols, CAST($depth AS BIGINT) AS depth
       |FROM s0 $joins""".stripMargin
  }

  /** Mirrors Behavior.retention: first-event-day cohorts × distinct active
    * day offsets (all integer day arithmetic; the division of an exact
    * multiple is exact in both engines).
    */
  def retention(dayUs: Long): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
       |d0 AS (SELECT user_id, CAST((ts_us - (ts_us % $dayUs)) / $dayUs AS BIGINT) AS day FROM e),
       |f AS (SELECT user_id, min(day) AS cohort_day FROM d0 GROUP BY 1),
       |a AS (SELECT DISTINCT user_id, day FROM d0)
       |SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
       |  CAST(count(1) AS BIGINT) AS n_active
       |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Mirrors Behavior.abTest over floor-quantized event values per
    * event_type: exact integer count/sum/sumsq per variant; mean / sample
    * variance / Welch z written in the Spark side's exact operation order.
    */
  def abTest: String =
    s"""WITH q AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS qv FROM events),
       |st AS (SELECT event_type, CAST(count(1) AS BIGINT) AS n, sum(qv) AS s, sum(qv * qv) AS ss
       |  FROM q GROUP BY 1),
       |e AS (SELECT event_type, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       |    CASE WHEN n > 1 THEN (CAST(ss AS DOUBLE)
       |      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n - 1 AS DOUBLE)
       |    END AS var FROM st)
       |SELECT a.event_type AS variant_a, a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
       |  b.event_type AS variant_b, b.n AS n_b, b.mean AS mean_b, b.var AS var_b,
       |  (a.mean - b.mean) / sqrt(a.var / CAST(a.n AS DOUBLE) + b.var / CAST(b.n AS DOUBLE)) AS z
       |FROM e a JOIN e b ON a.event_type < b.event_type""".stripMargin

  /** Mirrors Behavior.transitions on the user event-type sequence (lag
    * ordered by (ts, event_id) — unique, so deterministic).
    */
  def transitions: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id FROM events),
       |l AS (SELECT user_id, event_type AS to_state,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS from_state FROM e),
       |s AS (SELECT from_state, to_state, CAST(count(1) AS BIGINT) AS n_steps
       |  FROM l WHERE from_state IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT from_state, sum(n_steps) AS tot FROM s GROUP BY 1)
       |SELECT s.from_state, s.to_state, s.n_steps,
       |  CAST(s.n_steps AS DOUBLE) / CAST(t.tot AS DOUBLE) AS prob
       |FROM s JOIN t USING (from_state)""".stripMargin

  // ---- q148 winsorize ------------------------------------------------------

  /** Mirrors Sketches.winsorize on events.value per event_type: the
    * quantileSketch bottom-k sample, lower-nearest-rank bounds, and the
    * least/greatest clip (comparisons only — value doubles pass through
    * bit-identically).
    */
  /** Mirrors Sketches.madOutliers on events/event_type: both sketch passes
    * replayed (identical hash sample, lower-nearest-rank median), then the
    * same IEEE deviation/flag arithmetic.
    */
  def madOutliers(k: Int, cutoff: Double): String = {
    def pass(src: String, vExpr: String, salt: String, out: String) =
      s"""s_$out AS (SELECT event_type, $vExpr AS v,
         |    ${hashBucket("event_id", salt, 1L << 30)} AS h FROM $src),
         |r_$out AS (SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rk
         |  FROM s_$out),
         |g_$out AS (SELECT event_type, list(v ORDER BY v) AS vs, count(1) AS n
         |  FROM r_$out WHERE rk <= $k GROUP BY 1),
         |$out AS (SELECT event_type,
         |    vs[CAST(floor(0.5 * (n - 1)) + 1 AS INT)] AS $out FROM g_$out)""".stripMargin
    s"""WITH ${pass("events", "value", "mad", "med")},
       |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
       |    abs(e.value - m.med) AS dev
       |  FROM events e JOIN med m USING (event_type)),
       |${pass("d", "dev", "madd", "mad")}
       |SELECT d.event_id, d.event_type, d.value, d.med, a.mad,
       |  d.dev > $cutoff * a.mad AS is_outlier
       |FROM d JOIN mad a USING (event_type)""".stripMargin
  }

  def winsorize(k: Int, lo: Double, hi: Double): String =
    s"""WITH s AS (
       |  SELECT event_type, value AS v, ${hashBucket("event_id", "qsk", 1L << 30)} AS h FROM events),
       |r AS (SELECT event_type, v, row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rk FROM s),
       |gq AS (SELECT event_type, list(v ORDER BY v) AS vs, count(1) AS n_sample
       |  FROM r WHERE rk <= $k GROUP BY 1),
       |bnds AS (SELECT event_type,
       |    vs[CAST(floor($lo * (n_sample - 1)) + 1 AS INT)] AS lo_bound,
       |    vs[CAST(floor($hi * (n_sample - 1)) + 1 AS INT)] AS hi_bound
       |  FROM gq)
       |SELECT e.event_id, e.event_type, e.value, b.lo_bound, b.hi_bound,
       |  least(greatest(e.value, b.lo_bound), b.hi_bound) AS value_clipped
       |FROM events e JOIN bnds b USING (event_type)""".stripMargin

  /** Benford screen (q204): same string-based digit extraction, the SAME
    * driver-computed expected_ppb integer table, exact decimal deviation.
    */
  def benford: String = {
    val expected = (1 to 9).map(d =>
      s"WHEN $d THEN ${math.round(math.log10(1.0 + 1.0 / d) * 1e9)}")
      .mkString("CASE a.digit ", " ", " END")
    s"""WITH v AS (
       |  SELECT CAST(substr(CAST(CAST(abs(floor(l_extendedprice * 100)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM lineitem),
       |d AS (SELECT digit, count(1) AS n FROM v WHERE digit >= 1 GROUP BY 1),
       |t AS (SELECT sum(n) AS N FROM d),
       |axis AS (SELECT unnest(generate_series(1, 9)) AS digit)
       |SELECT a.digit, CAST(coalesce(d.n, 0) AS BIGINT) AS n,
       |  CAST(coalesce(d.n, 0) AS DOUBLE) / CAST(t.N AS DOUBLE) AS share,
       |  CAST($expected AS BIGINT) AS expected_ppb,
       |  CAST(abs(coalesce(d.n, 0) * 1000000000 - t.N * ($expected)) AS BIGINT) AS dev_num,
       |  CAST(t.N AS BIGINT) AS total
       |FROM axis a LEFT JOIN d ON d.digit = a.digit CROSS JOIN t""".stripMargin
  }

  /** Calibration (q200): replay Classifier.linearScore's fixed-order dot
    * with the same fixture weights, the rational squash, the bin/quantize
    * arithmetic and the exact-integer ECE numerator.
    */
  def calibration(dim: Int, nBins: Int): String = {
    val (w, b) = graft.similarity.Classifier.fixtureSoftmaxModel(dim, 1)
    val terms = (0 until dim).map(i =>
      s"CAST(embedding[${i + 1}] AS DOUBLE) * (${w(0)(i)})")
    s"""WITH m AS (
       |  SELECT label, (${terms.mkString(" + ")}) + (${b(0)}) AS margin
       |  FROM embeddings),
       |s AS (
       |  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |    0.5 + margin / (2.0 * (1.0 + abs(margin))) AS score FROM m),
       |q AS (
       |  SELECT y,
       |    CAST(greatest(least(floor(score * $nBins), ${nBins - 1}), 0) AS INT) AS bin,
       |    CAST(floor(score * 1000000000.0) AS BIGINT) AS qs FROM s)
       |SELECT bin, count(1) AS n, CAST(sum(y) AS BIGINT) AS hits,
       |  CAST(sum(qs) AS BIGINT) AS sum_qscore,
       |  CAST(sum(y) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS acc,
       |  CAST(sum(qs) AS DOUBLE) / (CAST(count(1) AS DOUBLE) * 1e9) AS conf,
       |  CAST(abs(sum(y) * 1000000000 - sum(qs)) AS BIGINT) AS ece_num
       |FROM q GROUP BY bin""".stripMargin
  }

  /** Shared graph preamble for q199/q201: the customer↔supplier bipartite
    * graph both directions — MUST stay in sync with SparkEntry's
    * custSuppGraph (same +1000000000000 supplier offset, same dedup).
    */
  private def custSuppGraphCtes: String =
    s"""pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000000 AS sup
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, sup AS dst FROM pairs
       |  UNION SELECT sup, c FROM pairs),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)""".stripMargin

  /** Synchronous LPA (q201): replay Matrix.labelPropagation's integer
    * argmax (most-frequent neighbor label, min-label ties) over `iters`
    * unrolled rounds; nodes without in-edges carry their label forward.
    */
  def labelPropagation(iters: Int): String = {
    val stages = (1 to iters).map { i =>
      s"""w$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, count(1) AS cnt,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(1) DESC, l.label ASC) AS rn
         |    FROM e JOIN l${i - 1} l ON l.node = e.src
         |    GROUP BY e.dst, l.label) WHERE rn = 1),
         |l$i AS (
         |  SELECT p.node, coalesce(w$i.label, p.label) AS label
         |  FROM l${i - 1} p LEFT JOIN w$i ON w$i.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $custSuppGraphCtes,
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$stages
       |SELECT node, CAST(label AS BIGINT) AS label FROM l$iters""".stripMargin
  }

  /** Integer PageRank (q199): replay Matrix.pageRankPortable's exact
    * arithmetic — nano-mass ranks, per-edge `r // deg`, damping as
    * (pct·s) // 100 — over `iters` UNROLLED CTE stages (no recursion
    * needed for a fixed iteration count).
    */
  def pageRankPortable(iters: Int, dampingPct: Int): String = {
    val baseNum = 1000000000L * (100 - dampingPct) / 100
    val stages = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS node, sum(r.r // d.deg) AS s
         |  FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT n2.node, ($baseNum // nn.n) + ($dampingPct * coalesce(s$i.s, 0)) // 100 AS r
         |  FROM nodes n2 CROSS JOIN nn LEFT JOIN s$i ON s$i.node = n2.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $custSuppGraphCtes,
       |deg AS (SELECT src, count(1) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT count(1) AS n FROM nodes),
       |r0 AS (SELECT node, 1000000000 // n AS r FROM nodes, nn),
       |$stages
       |SELECT node, CAST(r AS BIGINT) AS r FROM r$iters""".stripMargin
  }

  /** Retrieval metrics (q197): recall@k / precision@k / MRR / nDCG@k over
    * the arithmetic run+qrels derivation from lineitem. The nDCG discount
    * table is the SAME integer sequence the Spark side uses
    * (Search.ndcgDiscounts), so both engines sum exact integers and
    * divide once — no transcendental in the graded path.
    */
  def retrievalMetrics(k: Int): String = {
    val disc = graft.text.Search.ndcgDiscounts(k)
    def discCase(rankExpr: String) = disc.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN ${w}" }
      .mkString(s"CASE $rankExpr ", " ", " ELSE 0 END")
    s"""WITH pairs AS (
       |  SELECT l_suppkey % 20 AS query_id, l_partkey % 200 AS doc_id,
       |    min(l_orderkey) AS sk
       |  FROM lineitem GROUP BY 1, 2),
       |runs AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY sk, doc_id) AS rank
       |    FROM pairs) WHERE rank <= $k),
       |qrels AS (
       |  SELECT query_id, doc_id, CAST(1 + doc_id % 3 AS INT) AS rel
       |  FROM pairs WHERE doc_id % 7 = query_id % 7),
       |ideal AS (
       |  SELECT query_id, count(1) AS n_rel,
       |    sum(CASE WHEN ir <= $k
       |        THEN (${discCase("ir")}) * ((1::BIGINT << rel) - 1) ELSE 0 END) AS idcg
       |  FROM (SELECT query_id, doc_id, rel,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS ir
       |    FROM qrels)
       |  GROUP BY 1),
       |got AS (SELECT query_id, count(1) AS n_retrieved FROM runs GROUP BY 1),
       |hits AS (SELECT r.query_id, r.rank, q.rel
       |  FROM runs r JOIN qrels q USING (query_id, doc_id)),
       |agg AS (SELECT query_id, count(1) AS hits, min(rank) AS first_rank,
       |    sum((${discCase("rank")}) * ((1::BIGINT << rel) - 1)) AS dcg
       |  FROM hits GROUP BY 1)
       |SELECT g.query_id,
       |  CAST(coalesce(g.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       |  CAST(coalesce(i.n_rel, 0) AS BIGINT) AS n_rel,
       |  CAST(coalesce(a.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(a.hits, 0) AS DOUBLE)
       |    / CAST(greatest(coalesce(i.n_rel, 0), 1) AS DOUBLE) AS recall_k,
       |  CAST(coalesce(a.hits, 0) AS DOUBLE) / ${k}.0 AS precision_k,
       |  CASE WHEN a.first_rank IS NOT NULL
       |    THEN 1.0 / CAST(a.first_rank AS DOUBLE) ELSE 0.0 END AS mrr,
       |  CASE WHEN coalesce(i.idcg, 0) > 0
       |    THEN CAST(coalesce(a.dcg, 0) AS DOUBLE) / CAST(i.idcg AS DOUBLE)
       |    ELSE 0.0 END AS ndcg_k
       |FROM got g
       |FULL OUTER JOIN ideal i USING (query_id)
       |LEFT JOIN agg a USING (query_id)""".stripMargin
  }

  // ---- q214 end-to-end curation pipeline -----------------------------------

  /** The composed Curation.curate pipeline, hash-replayed stage-for-stage
    * in one WITH chain built from the already-proven per-stage oracles:
    * PII synthesis+redaction (q71), quality screen (q61's feature SQL),
    * normalize + exact dedup (q79/q39), MinHash LSH + exact-Jaccard verify
    * (q57), connected components + survivors (q60/q65), decontamination
    * (q81), chunking (q86), hash split (q89), greedy packing (q74 —
    * per-split, ordered by the STRING chunk_key exactly as
    * Packing.packGreedy is called). Every stage is deterministic, so the
    * composition is too; a stage-wiring regression in Curation.curate
    * (wrong column threading, a dropped filter) breaks this hash even when
    * every stage passes alone.
    */
  def curation(evalMod: Int, minTokens: Long, maxTokens: Long,
               maxStopwordRatio: Double, shingleN: Int, k: Int, bands: Int,
               threshold: Double, decontamN: Int, chunkTokens: Int,
               overlap: Int, capacity: Long): String = {
    val email = graft.text.TextAnalysis.emailPattern
    val phone = graft.text.TextAnalysis.phonePattern
    val ip = graft.text.TextAnalysis.ipv4Pattern
    val stops = graft.text.TextAnalysis.defaultStopwords
      .map(w => s"'$w'").mkString("[", ",", "]")
    val rows = k / bands
    val shingle = horner((0 until shingleN).map(j => s"hs[i + $j]"))
    val shingleD = horner((0 until decontamN).map(j => s"hs[i + $j]"))
    val sigs = minHashCoefs(k)
      .map { case (a, b) => s"list_min(list_transform(shs, x -> ($a * x + $b) % $P))" }
      .mkString("[", ",\n    ", "]")
    val bucket = horner((1 to rows).map(j => s"sg[band * $rows + $j]"))
    val stride = chunkTokens - overlap
    s"""WITH RECURSIVE syn AS (
       |  SELECT doc_id,
       |    text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com ph 555-' ||
       |    CAST(1000 + doc_id % 9000 AS VARCHAR) || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
       |    '.0.' || CAST(doc_id % 100 AS VARCHAR) AS t
       |  FROM documents WHERE doc_id % $evalMod <> 0
       |), red AS (
       |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS text
       |  FROM syn
       |), qt AS (
       |  SELECT doc_id, text, $toks AS ts FROM red
       |), q AS (
       |  SELECT doc_id, text FROM qt
       |  WHERE len(ts) BETWEEN $minTokens AND $maxTokens
       |    AND (CASE WHEN len(ts) > 0
       |      THEN CAST(len(list_filter(list_transform(ts, x -> lower(x)),
       |           w -> list_contains($stops, w))) AS DOUBLE) / len(ts)
       |      ELSE 0.0 END) <= $maxStopwordRatio
       |), nrm AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS nt
       |  FROM q
       |), keepx AS (
       |  SELECT min(doc_id) AS doc_id FROM nrm GROUP BY md5(nt)
       |), ex AS (
       |  SELECT n.doc_id, n.text FROM nrm n JOIN keepx USING (doc_id)
       |), th AS (
       |  SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM ex
       |), sh AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(hs) - ${shingleN - 1}), i -> $shingle) AS shs
       |  FROM th WHERE len(hs) >= $shingleN
       |), sig AS (
       |  SELECT doc_id, $sigs AS sg FROM sh
       |), banded AS (
       |  SELECT doc_id, band, $bucket AS bucket
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bands - 1})) AS band) b
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(shs) AS shs FROM sh
       |), pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |        / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS jaccard
       |    FROM cand c JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b)
       |  WHERE jaccard >= $threshold
       |), edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs
       |), reach(id, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
       |), clusters AS (
       |  SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id
       |), surv AS (
       |  SELECT e.doc_id, e.text FROM ex e
       |  LEFT JOIN clusters c ON e.doc_id = c.doc_id AND c.doc_id <> c.cluster
       |  WHERE c.doc_id IS NULL
       |), evh AS (
       |  SELECT DISTINCT unnest(shs) AS h FROM (
       |    SELECT list_distinct(CASE WHEN len(hs) >= $decontamN
       |      THEN list_transform(generate_series(1, len(hs) - ${decontamN - 1}), i -> $shingleD)
       |      ELSE CAST([] AS BIGINT[]) END) AS shs
       |    FROM (SELECT list_transform($toks, t -> ${charHash("t")}) AS hs
       |          FROM documents WHERE doc_id % $evalMod = 0))
       |), trh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(hs) >= $decontamN
       |      THEN list_transform(generate_series(1, len(hs) - ${decontamN - 1}), i -> $shingleD)
       |      ELSE CAST([] AS BIGINT[]) END) AS shs
       |  FROM (SELECT doc_id, list_transform($toks, t -> ${charHash("t")}) AS hs FROM surv)
       |), hits AS (
       |  SELECT s.doc_id, count(1) AS n_ov
       |  FROM (SELECT doc_id, unnest(shs) AS h FROM trh) s JOIN evh USING (h)
       |  GROUP BY s.doc_id
       |), clean AS (
       |  SELECT s.doc_id, s.text FROM surv s LEFT JOIN hits USING (doc_id)
       |  WHERE COALESCE(hits.n_ov, 0) < 1
       |), ct AS (
       |  SELECT doc_id, $toks AS ts FROM clean
       |), st AS (
       |  SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - $overlap, 1), $stride)) AS s
       |  FROM ct WHERE len(ts) >= 1
       |), chunks AS (
       |  SELECT doc_id,
       |    CAST((s - 1) // $stride AS BIGINT) AS chunk_idx,
       |    array_to_string(list_slice(ts, s, s + ${chunkTokens - 1}), ' ') AS chunk_text,
       |    CAST(least($chunkTokens, len(ts) - s + 1) AS BIGINT) AS n_chunk_tokens
       |  FROM st
       |), keyed AS (
       |  SELECT doc_id, chunk_idx, chunk_text, n_chunk_tokens,
       |    CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_idx AS VARCHAR) AS chunk_key
       |  FROM chunks
       |), spl AS (
       |  SELECT *, CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT *, ${hashBucket("chunk_key", "split", 1000)} AS b FROM keyed)
       |), num AS MATERIALIZED (
       |  -- MATERIALIZED is load-bearing: both recursions below re-read
       |  -- their inputs once PER ITERATION, and without it DuckDB
       |  -- re-evaluates the whole upstream pipeline chain each time
       |  -- (~1700 iterations x 3 s at sf0.01)
       |  SELECT split, doc_id, chunk_idx, chunk_text, n_chunk_tokens, chunk_key,
       |    row_number() OVER (PARTITION BY split ORDER BY chunk_key) AS rn
       |  FROM spl
       |), packed(split, rn, doc_id, chunk_idx, chunk_text, n_chunk_tokens, cum, pack_id, pack_pos) AS (
       |  SELECT split, rn, doc_id, chunk_idx, chunk_text, n_chunk_tokens, n_chunk_tokens,
       |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM num WHERE rn = 1
       |  UNION ALL
       |  SELECT n.split, n.rn, n.doc_id, n.chunk_idx, n.chunk_text, n.n_chunk_tokens,
       |    CASE WHEN p.cum + n.n_chunk_tokens <= $capacity THEN p.cum + n.n_chunk_tokens ELSE n.n_chunk_tokens END,
       |    CASE WHEN p.cum + n.n_chunk_tokens <= $capacity THEN p.pack_id ELSE p.pack_id + 1 END,
       |    CASE WHEN p.cum + n.n_chunk_tokens <= $capacity THEN p.pack_pos + 1 ELSE CAST(0 AS BIGINT) END
       |  FROM num n JOIN packed p ON n.split = p.split AND n.rn = p.rn + 1
       |)
       |SELECT split, pack_id, pack_pos, doc_id, chunk_idx, chunk_text, n_chunk_tokens FROM packed""".stripMargin
  }
}
