package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import NativeUnary.{LongArray, PiiScan}

/** Native Catalyst expressions for the dedup/similarity hot paths. The
  * declarative formulations (split + higher-order array functions) allocate
  * per-row intermediate arrays; these kernels compute the same values in one
  * tight JVM loop. Their expressions share one body ([[NativeKernelCall]]):
  * the generated code is a single static call into NativeKernels, and the
  * interpreted path calls the same method directly.
  *
  * Numeric contracts are bit-identical to the declarative forms (same fold
  * order, same portable arithmetic — see graft.functions.PortableHash), so
  * the DuckDB oracles remain exact.
  */
object NativeKernels {

  /** Raw-deflate (level 6, nowrap) size over input size, in UTF-8 bytes.
    * A fresh Deflater per call keeps the kernel thread-safe across
    * whole-stage-codegen'd tasks; `end()` releases the native buffer.
    */
  def compressionRatio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var compressed = 0L
      while (!d.finished()) compressed += d.deflate(buf)
      compressed.toDouble / raw.length.toDouble
    } finally d.end()
  }

  /** Polynomial char hash: fold (h*31 + codepoint) mod `mod`. */
  def polyHash(s: UTF8String, mod: Long): Long = {
    val js = s.toString
    var h = 0L
    var i = 0
    while (i < js.length) {
      val cp = js.codePointAt(i)
      h = (h * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  @inline private def isWs(c: Char): Boolean = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace-tokenize + polyHash each token in one pass — equals
    * transform(tokens(text), t => charPolyHash(t, mod)).
    */
  def tokenPolyHashes(s: UTF8String, mod: Long): ArrayData = {
    val js = s.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var i = 0
    while (i < js.length) {
      while (i < js.length && isWs(js.charAt(i))) i += 1
      if (i < js.length) {
        var h = 0L
        while (i < js.length && !isWs(js.charAt(i))) {
          val cp = js.codePointAt(i)
          h = (h * 31 + cp) % mod
          i += Character.charCount(cp)
        }
        out += h
      }
    }
    new GenericArrayData(out.toArray)
  }


  /** Whitespace tokens as strings, one pass (split on \\s+ runs, empties
    * removed) — string counterpart of tokenPolyHashes.
    */
  def tokenize(s: UTF8String): ArrayData = {
    val js = s.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var i = 0
    while (i < js.length) {
      while (i < js.length && isWs(js.charAt(i))) i += 1
      if (i < js.length) {
        val start = i
        while (i < js.length && !isWs(js.charAt(i))) i += 1
        out += UTF8String.fromString(js.substring(start, i))
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct n-gram shingle hashes from token hashes (Horner fold per
    * window, first-occurrence dedup). Output order is irrelevant downstream
    * (explode → join/groupBy), only the set matters.
    */
  def shingleHashSet(th: ArrayData, n: Int, b: Long, p: Long): ArrayData = {
    val m = th.numElements()
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.max(0, m - n + 1))
    var i = 0
    while (i <= m - n) {
      var sh = 0L
      var j = 0
      while (j < n) { sh = (sh * b + th.getLong(i + j)) % p; j += 1 }
      if (seen.add(sh)) out += sh
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Every n-gram shingle hash in position order (duplicates kept) — the
    * positional variant of [[shingleHashSet]], for operators that need
    * WHERE a shingle occurs (duplicate-span mining) or its multiplicity.
    * Same Horner fold, so values equal the declarative
    * transform(sequence(...)) form and the DuckDB oracle's.
    */
  def shingleHashesAll(th: ArrayData, n: Int, b: Long, p: Long): ArrayData = {
    val m = th.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var sh = 0L
      var j = 0
      while (j < n) { sh = (sh * b + th.getLong(i + j)) % p; j += 1 }
      out(i) = sh
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowed fingerprint set (Schleimer/Wilkerson/Aiken SIGMOD'03, the
    * MOSS scheme): over the positional n-gram shingle-hash sequence, select
    * the minimum of every window of `w` consecutive shingle hashes; the
    * distinct selected values are the document's fingerprints. Guarantees:
    * any shared token run of length >= n + w - 1 yields at least one shared
    * fingerprint, and density is ~2/(w+1) of all shingles — a tunable,
    * position-robust sample unlike fixed-stride sampling. Documents with
    * fewer than `w` shingles (but at least one) contribute the single
    * global min, so no non-empty document is fingerprint-less.
    *
    * One pass, O(m): shingle hashes stream through a monotonic-index deque
    * (amortized O(1) sliding-window min), never materializing the window.
    * Values are the same Horner/mod arithmetic as [[shingleHashesAll]], so
    * the DuckDB oracle reproduces them exactly.
    */
  def winnowHashes(th: ArrayData, n: Int, w: Int, b: Long, p: Long): ArrayData = {
    val m = th.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val sh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < n) { h = (h * b + th.getLong(i + j)) % p; j += 1 }
      sh(i) = h
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    if (m < w) {
      var mn = Long.MaxValue
      i = 0
      while (i < m) { if (sh(i) < mn) mn = sh(i); i += 1 }
      out += mn
    } else {
      val seen = new java.util.HashSet[java.lang.Long]()
      val dq = new Array[Int](m) // indices with strictly increasing sh values
      var head = 0; var tail = 0
      i = 0
      while (i < m) {
        while (tail > head && sh(dq(tail - 1)) >= sh(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) { val mn = sh(dq(head)); if (seen.add(mn)) out += mn }
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** MinHash signature from token hashes: Horner-combine each n-gram window
    * into a shingle hash, track min under each affine permutation. One pass,
    * zero allocation beyond the k-wide output.
    */
  def minHashSig(th: ArrayData, n: Int, as: Array[Long], bs: Array[Long],
                 b: Long, p: Long): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val m = th.numElements()
    var i = 0
    while (i <= m - n) {
      var sh = 0L
      var j = 0
      while (j < n) { sh = (sh * b + th.getLong(i + j)) % p; j += 1 }
      var q = 0
      while (q < k) {
        val v = (as(q) * sh + bs(q)) % p
        if (v < mins(q)) mins(q) = v
        q += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 32-bit SimHash from token hashes (frequency-weighted sign sum per bit). */
  def simHash32(th: ArrayData): Long = {
    val counts = new Array[Int](32)
    val m = th.numElements()
    var i = 0
    while (i < m) {
      val h = th.getLong(i)
      var bit = 0
      while (bit < 32) {
        if (((h >> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var packed = 0L
    var bit = 0
    while (bit < 32) { if (counts(bit) > 0) packed |= (1L << bit); bit += 1 }
    packed
  }


  /** Random-hyperplane LSH signature over a float vector: for each plane p,
    * s_p = sum_d(±v[d]) with the sign from the portable (p, d) integer hash
    * (PortableHash.planeSignPositive); bit p set when s_p > 0. Sequential
    * double accumulation per plane — bit-identical to the declarative fold.
    */
  def lshSignatureF(vec: ArrayData, nPlanes: Int): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var s = 0.0
      var d = 0
      while (d < n) {
        val x = (p.toLong * 2654435761L + d) % 2147483647L
        val y = (x * 1103515245L + 12345L) % 2147483648L
        val v = vec.getFloat(d).toDouble
        s += (if (((y >> 15) & 1L) == 0L) v else -v)
        d += 1
      }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Distinct 64-bit hashes of every string reachable by deleting at most
    * `k` code points — the FastSS deletion-neighborhood blocking keys for
    * Joins.editDistanceJoin, computed WITHOUT materializing any variant
    * string: one wrapping polynomial pass over the code-point array per
    * variant (O(L) each, O(L^(k+1)) total; L <= ~32 by the operator's
    * contract). Code points, not chars, so deletions align with
    * levenshtein's edit units and the pigeonhole completeness proof holds
    * for astral-plane text too. Hash collisions only add candidates — the
    * exact verify removes them.
    */
  def deletionVariantHashes(s: UTF8String, k: Int): ArrayData = {
    val cp = s.toString.codePoints().toArray
    val L = cp.length
    val B = 1099511628211L // FNV-1a prime as polynomial base; wrapping 64-bit
    def hashSkipping(i: Int, j: Int): Long = {
      var h = 0L; var t = 0
      while (t < L) { if (t != i && t != j) h = h * B + cp(t); t += 1 }
      h
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](1 + L * (if (k > 1) L else 1))
    def add(h: Long): Unit = if (seen.add(h)) out += h
    add(hashSkipping(-1, -1))
    if (k >= 1) { var i = 0; while (i < L) { add(hashSkipping(i, -1)); i += 1 } }
    if (k >= 2) {
      var i = 0
      while (i < L) { var j = i + 1; while (j < L) { add(hashSkipping(i, j)); j += 1 }; i += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  /** Fused cosine over float arrays: dot and both norms in one loop, all
    * accumulation sequential in double (bit-identical to the separate
    * aggregate() folds).
    */

  /** Count of common elements of two SORTED (ascending, distinct) long
    * arrays — one merge walk, no intersection array allocated. The
    * verification hot loop of the set-similarity joins: candidates × set
    * sizes element-steps total, zero garbage.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  /** [[sortedIntersectCount]] over sorted distinct INT arrays — the
    * int-packed shingle-set representation (every PortableHash shingle is
    * mod P = 2^31−1, so it fits an int losslessly; packing halves the
    * bytes the set-similarity verification joins shuffle per candidate).
    */
  def sortedIntersectCountI(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var cnt = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Script/charset codepoint counts in ONE pass: [total, latin (A-Za-z),
    * digit (0-9), CJK (U+4E00–U+9FFF), Cyrillic (U+0400–U+04FF), Arabic
    * (U+0600–U+06FF), space (U+0020)]. Equals length() on the
    * regexp_replace(text, "[^range]", "") stripped copies — which
    * materialize a new string per range per row (five text-sized
    * allocations a row made q137 memory-bound: 32-way parallelism bought
    * only 1.4× at sf10 until this kernel; the quality-feature ratios of
    * withQualityFeatures draw on the same counts). Counting codepoints
    * matches both Java-regex character classes and UTF8String.numChars.
    */
  def scriptCounts(s: UTF8String): ArrayData = {
    val js = s.toString
    var total = 0L; var latin = 0L; var digit = 0L
    var cjk = 0L; var cyr = 0L; var ara = 0L; var space = 0L
    var i = 0
    while (i < js.length) {
      val cp = js.codePointAt(i)
      total += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) latin += 1
      else if (cp >= '0' && cp <= '9') digit += 1
      else if (cp == ' ') space += 1
      else if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      else if (cp >= 0x0400 && cp <= 0x04ff) cyr += 1
      else if (cp >= 0x0600 && cp <= 0x06ff) ara += 1
      i += Character.charCount(cp)
    }
    new GenericArrayData(Array[Long](total, latin, digit, cjk, cyr, ara, space))
  }

  /** BPE-ish subword segment count in ONE pass — equals
    * size(regexp_extract_all(t, "[A-Z][a-z]+|[A-Z]+|[a-z]+|[0-9]+|[^A-Za-z0-9\\s]", 0)).
    * Java regex alternation is ordered with greedy quantifiers and no
    * inter-alternative backtracking on failure past the first char, so the
    * match sequence is exactly: at an uppercase char, one-upper+lowercase-run
    * if the NEXT char is lowercase else the uppercase run; at a lowercase
    * char, the lowercase run; at a digit, the digit run; any other
    * non-whitespace char is a single one-char match; whitespace (java \s)
    * separates. Counting needs no match materialization — the regex form
    * paid the same anti-scaling char-class tax as normalizeText.
    */
  def subwordCount(s: UTF8String): Long = {
    val js = s.toString
    @inline def upper(c: Char) = c >= 'A' && c <= 'Z'
    @inline def lowerC(c: Char) = c >= 'a' && c <= 'z'
    @inline def digit(c: Char) = c >= '0' && c <= '9'
    var i = 0
    var n = 0L
    while (i < js.length) {
      val c = js.charAt(i)
      if (upper(c)) {
        n += 1
        i += 1
        if (i < js.length && lowerC(js.charAt(i))) { while (i < js.length && lowerC(js.charAt(i))) i += 1 }
        else { while (i < js.length && upper(js.charAt(i))) i += 1 }
      } else if (lowerC(c)) { n += 1; while (i < js.length && lowerC(js.charAt(i))) i += 1 }
      else if (digit(c)) { n += 1; while (i < js.length && digit(js.charAt(i))) i += 1 }
      else if (isWs(c)) i += 1
      // the one-char alternative matches per CODEPOINT: a supplementary
      // char (surrogate pair) is ONE match, not two
      else { n += 1; i += Character.charCount(js.codePointAt(i)) }
    }
    n
  }

  /** Per-document top-token statistics in ONE pass:
    * (top_token, top_cnt, n_tokens) over whitespace tokens — the most
    * frequent token, ties to the BINARY-smallest (UTF8String ordering,
    * matching min_by over struct(-cnt, tok)). Replaces an
    * explode → groupBy(doc, tok) → groupBy(doc) → join-back pipeline: a
    * per-document statistic must never shuffle the corpus — the explode
    * form moved |corpus tokens| rows through two exchanges.
    * Empty/whitespace-only input → (null, 0, 0), the left join's shape.
    */
  def topTokenStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokenize(s)
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var i = 0
    while (i < n) {
      counts.merge(toks.getUTF8String(i), 1, (a, b) => a + b)
      i += 1
    }
    var top: UTF8String = null
    var topCnt = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue.intValue()
      if (c > topCnt || (c == topCnt && (top == null || e.getKey.compareTo(top) < 0))) {
        top = e.getKey; topCnt = c
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top, topCnt.toLong, n.toLong))
  }

  /** Stopword-profile language vote in ONE pass: for each token
    * (lowercased), add its profile-membership bitmask; the winner is the
    * max (score, lang) pair with lang compared binary — exactly
    * array_max over struct(score, lang) built per profile, including the
    * all-zero case (binary-largest lang wins). The declarative form ran
    * one filter-over-tokens per language; membership against ASCII word
    * lists makes per-token lowercase equivalent to whole-string lower()
    * (exotic-case divergences can never match a profile word either way).
    */
  def langIdPick(s: UTF8String, mask: java.util.HashMap[UTF8String, Integer],
                 langs: Array[UTF8String]): UTF8String = {
    val toks = tokenize(s)
    val n = toks.numElements()
    val scores = new Array[Int](langs.length)
    var i = 0
    while (i < n) {
      val m = mask.get(toks.getUTF8String(i).toLowerCase)
      if (m != null) {
        var b = 0
        while (b < langs.length) {
          if ((m.intValue() & (1 << b)) != 0) scores(b) += 1
          b += 1
        }
      }
      i += 1
    }
    var best = 0
    var b = 1
    while (b < langs.length) {
      if (scores(b) > scores(best) ||
        (scores(b) == scores(best) && langs(b).compareTo(langs(best)) > 0)) best = b
      b += 1
    }
    langs(best)
  }

  /** Count of MAXIMAL runs of characters from `set` — equals
    * size(regexp_extract_all(t, "[<set>]+", 0)) for a literal BMP char
    * set (readability's sentence/syllable counts). One linear pass,
    * membership by scan of the tiny set — no regex (see normalizeText's
    * doc for why per-char regex is a scale hazard on this JDK).
    */
  def runCountInSet(s: UTF8String, set: UTF8String): Long = {
    val js = s.toString
    val cs = set.toString
    var n = 0L
    var inRun = false
    var i = 0
    while (i < js.length) {
      val m = cs.indexOf(js.charAt(i)) >= 0
      if (m && !inRun) n += 1
      inRun = m
      i += 1
    }
    n
  }

  /** Text normalization in ONE pass: lowercase, then reduce to [a-z0-9]
    * words joined by single spaces. Equals
    * trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9\\s]", " "),
    * "\\s+", " ")): stage 1 turns every non-alnum codepoint into a space
    * (the \s exemption is irrelevant — \s chars are whitespace already),
    * stage 2 collapses whitespace runs, trim strips the ends. The
    * composed-regex form was the engine's single worst per-row hot path:
    * this JDK's java.util.regex costs ~68 ns/char on a negated char
    * class (measured find()-only) AND anti-scales under concurrency (32
    * regex threads run no faster than 1 — q79 took the same 14 s at 4
    * and at 32 cores), while this loop is ~70x faster single-threaded
    * and scales with cores. Lowercasing replicates UTF8String
    * .toLowerCase's two branches (byte map for all-ASCII, else
    * String.toLowerCase) so values match lower() exactly.
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val js = s.toString
    var ascii = true
    var i = 0
    while (ascii && i < js.length) { if (js.charAt(i) >= 0x80) ascii = false; i += 1 }
    val low = if (ascii) {
      val a = new Array[Char](js.length)
      var j = 0
      while (j < js.length) {
        val c = js.charAt(j)
        a(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(a)
    } else js.toLowerCase
    val sb = new java.lang.StringBuilder(low.length)
    var pendingSpace = false
    i = 0
    while (i < low.length) {
      val cp = low.codePointAt(i)
      if ((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')) {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        sb.append(cp.toChar)
        pendingSpace = false
      } else pendingSpace = true
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Quality-feature token statistics in ONE pass, NO token-array
    * materialization: (n_tokens, sum_token_len, stop_hits) over
    * whitespace tokens, where sum_token_len is the codepoint total
    * (= aggregate(toks, 0L, acc + length(tok))) and stop_hits counts
    * tokens (WITH multiplicity) whose lowercase form is in the stopword
    * set (= size(filter(transform(toks, lower), array_contains(stop)))).
    * Tokens longer than the longest stopword skip the lowercase + probe
    * entirely, so the common case allocates nothing per token; short
    * tokens lowercase via the same branch structure as lower() (ASCII
    * map, else String.toLowerCase — the LangIdPick argument: an
    * exotic-case divergence can never lowercase INTO an ASCII stopword
    * differently than lower() does, because both end at
    * String.toLowerCase for non-ASCII input).
    */
  def tokenStats(s: UTF8String, stop: java.util.HashSet[String],
                 maxStopLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val js = s.toString
    var nTokens = 0L
    var sumLen = 0L
    var stopHits = 0L
    var i = 0
    while (i < js.length) {
      if (isWs(js.charAt(i))) i += 1
      else {
        val start = i
        var cps = 0L
        while (i < js.length && !isWs(js.charAt(i))) {
          cps += 1
          i += Character.charCount(js.codePointAt(i))
        }
        nTokens += 1
        sumLen += cps
        if (i - start <= maxStopLen) {
          val tok = js.substring(start, i)
          var ascii = true
          var j = 0
          while (ascii && j < tok.length) { if (tok.charAt(j) >= 0x80) ascii = false; j += 1 }
          val low = if (ascii) {
            var anyUpper = false
            j = 0
            while (!anyUpper && j < tok.length) {
              val c = tok.charAt(j); if (c >= 'A' && c <= 'Z') anyUpper = true; j += 1
            }
            if (!anyUpper) tok
            else {
              val a = new Array[Char](tok.length)
              j = 0
              while (j < tok.length) {
                val c = tok.charAt(j)
                a(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
                j += 1
              }
              new String(a)
            }
          } else tok.toLowerCase
          if (stop.contains(low)) stopHits += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, sumLen, stopHits))
  }

  /** One-pass Gopher-rule feature stats (q141) — replaces the token and
    * line array materializations plus three per-element regex lambdas
    * (`rlike("[A-Za-z]")` per token, `^[-*•]` and `(\.\.\.|…)$` per line)
    * and the mean-word-length aggregate lambda with a single fused scan.
    * Field-for-field contracts (property-tested against the declarative
    * forms in KernelPropertySpec):
    *  - n_words / sum_word_len: whitespace tokens (Java regex \s), token
    *    length in CODEPOINTS like length() — the tokenStats arguments.
    *  - alpha_words: tokens containing an ASCII letter (rlike "[A-Za-z]").
    *  - stop_distinct: |stop ∩ transform(toks, lower)| — DISTINCT
    *    stopwords present (array_intersect semantics, NOT occurrence
    *    count), lowercasing via the same ASCII-else-String.toLowerCase
    *    branch as lower(); bitmask over the ≤64 stopword indexes.
    *  - hash_cnt / ellch_cnt: '#' and '…' char counts (the
    *    length-minus-replace formulation); ell3_cnt: non-overlapping
    *    leftmost "..." occurrences = Σ floor(dotRun/3) per maximal run,
    *    exactly what replace(t, "...", "") removes.
    *  - n_lines / bullet_lines / ellipsis_lines: split on '\n', trim
    *    SPACES (0x20) only — Spark's trim() — count nonblank lines, those
    *    whose first char is '-', '*' or '•', and those ending with "..."
    *    or '…'.
    */
  def gopherStats(s: UTF8String, stopIdx: java.util.HashMap[String, Integer],
                  maxStopLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val js = s.toString
    val len = js.length
    var nWords = 0L; var sumLen = 0L; var alphaWords = 0L; var stopMask = 0L
    var hashCnt = 0L; var ell3 = 0L; var ellCh = 0L
    var nLines = 0L; var bulletLines = 0L; var ellipsisLines = 0L
    var dotRun = 0
    @inline def flushDots(): Unit = { ell3 += dotRun / 3; dotRun = 0 }
    def scanLine(ls: Int, le: Int): Unit = {
      var a = ls; var b = le
      while (a < b && js.charAt(a) == ' ') a += 1
      while (b > a && js.charAt(b - 1) == ' ') b -= 1
      if (a < b) {
        nLines += 1
        val c0 = js.charAt(a)
        if (c0 == '-' || c0 == '*' || c0 == '•') bulletLines += 1
        // Java's non-MULTILINE `$` also matches immediately before ONE
        // final line terminator — on a '\n'-split segment that can be
        // '\r' (CRLF corpora), NEL, LS or PS. The regex formulation this
        // kernel replaces counted "end...\r" as an ellipsis line, so the
        // kernel must too (property-tested with '\r' in the pool).
        val e = {
          val last = js.charAt(b - 1)
          if (b - 1 > a && (last == '\r' || last == '\u0085' ||
              last == '\u2028' || last == '\u2029')) b - 1 else b
        }
        if (e > a && (js.charAt(e - 1) == '…' ||
            (e - a >= 3 && js.charAt(e - 1) == '.' && js.charAt(e - 2) == '.' &&
              js.charAt(e - 3) == '.'))) ellipsisLines += 1
      }
    }
    var i = 0
    var lineStart = 0
    while (i < len) {
      val c = js.charAt(i)
      if (isWs(c)) {
        // whitespace is never '.'/'#'/'…', so it only ends a dot run and
        // possibly a line
        flushDots()
        if (c == '\n') { scanLine(lineStart, i); lineStart = i + 1 }
        i += 1
      } else {
        // token scan: every non-ws char is examined exactly once here,
        // feeding the token stats AND the dot/hash/ellipsis counters
        val start = i
        var cps = 0L
        var alpha = false
        while (i < len && !isWs(js.charAt(i))) {
          val ch = js.charAt(i)
          if (ch == '.') dotRun += 1 else flushDots()
          if (ch == '#') hashCnt += 1
          if (ch == '…') ellCh += 1
          if (!alpha && ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))) alpha = true
          cps += 1
          i += Character.charCount(js.codePointAt(i))
        }
        nWords += 1
        sumLen += cps
        if (alpha) alphaWords += 1
        if (i - start <= maxStopLen) {
          val tok = js.substring(start, i)
          var ascii = true
          var j = 0
          while (ascii && j < tok.length) { if (tok.charAt(j) >= 0x80) ascii = false; j += 1 }
          val low = if (ascii) {
            var anyUpper = false
            j = 0
            while (!anyUpper && j < tok.length) {
              val ch = tok.charAt(j); if (ch >= 'A' && ch <= 'Z') anyUpper = true; j += 1
            }
            if (!anyUpper) tok
            else {
              val a = new Array[Char](tok.length)
              j = 0
              while (j < tok.length) {
                val ch = tok.charAt(j)
                a(j) = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
                j += 1
              }
              new String(a)
            }
          } else tok.toLowerCase
          val idx = stopIdx.get(low)
          if (idx != null) stopMask |= (1L << idx.intValue())
        }
      }
    }
    flushDots()
    scanLine(lineStart, len)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumLen, alphaWords, java.lang.Long.bitCount(stopMask).toLong,
        hashCnt, ell3, ellCh, nLines, bulletLines, ellipsisLines))
  }

  // ---- PII scan kernels (q71) ------------------------------------------
  // One-pass replacements for the email / IPv4 regexes of withPiiScrub.
  // Both patterns are REGULAR (no backreferences), and for both the Java
  // greedy leftmost-first match coincides with leftmost-longest (argued
  // per-pattern below), so a deterministic left-to-right scan reproduces
  // regexp_extract_all counts AND regexp_replace redaction spans exactly
  // — including in the DuckDB/RE2 oracle, which is leftmost-longest by
  // construction. Property-tested char-for-char against the JVM regex on
  // adversarial inputs (KernelPropertySpec). The phone pattern keeps the
  // digit-gated regex: its optional-group alternation is cheap and rare
  // relative to the per-char tax these two were paying.

  private def isEmailLocalChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  private def isEmailDomainChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '-'
  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  // Java's default \b (no UNICODE_CHARACTER_CLASS) and RE2's \b both use
  // the ASCII \w = [A-Za-z0-9_] — the withPiiScrub doc's portability
  // argument, now load-bearing for the kernel too.
  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` — count of
    * non-overlapping matches plus the text with each match replaced by
    * `<EMAIL>`. Greedy = longest here: the local part is a maximal run
    * (the char after any shorter prefix is a local char, never `@`), and
    * among dot-splits of the domain run the LAST dot followed by ≥2
    * letters yields the longest match, which is exactly the split greedy
    * backtracking reaches first (longest `[A-Za-z0-9.-]+` prefix).
    */
  def piiEmailScan(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val js = s.toString
    val len = js.length
    var count = 0L
    var sb: java.lang.StringBuilder = null
    var consumed = 0
    var q = js.indexOf('@')
    while (q >= 0) {
      var end = -1
      if (q > consumed && isEmailLocalChar(js.charAt(q - 1))) {
        var st = q - 1
        while (st > consumed && isEmailLocalChar(js.charAt(st - 1))) st -= 1
        var de = q + 1
        while (de < len && isEmailDomainChar(js.charAt(de))) de += 1
        // last dot with at least one domain char before it and ≥2 letters
        // after it; the TLD run stops at the first non-letter (which may
        // be inside the domain run — "a@b.co-x" matches "a@b.co")
        var k = de - 1
        while (end < 0 && k > q + 1) {
          if (js.charAt(k) == '.') {
            var m = k + 1
            while (m < len && isAsciiLetter(js.charAt(m))) m += 1
            if (m - k - 1 >= 2) end = m
          }
          if (end < 0) k -= 1
        }
        if (end >= 0) {
          if (sb == null) sb = new java.lang.StringBuilder(len)
          sb.append(js, consumed, st).append("<EMAIL>")
          consumed = end
          count += 1
        }
      }
      q = js.indexOf('@', if (end >= 0) consumed else q + 1)
    }
    val red = if (count == 0L) s else {
      sb.append(js, consumed, len)
      UTF8String.fromString(sb.toString)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](count, red))
  }

  /** `\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b` — count plus
    * `<IP>` redaction. With `\b` on both ends every octet must be a FULL
    * digit run of length 1–3 (a longer run leaves a digit after any 1–3
    * digit choice, failing the dot / the trailing boundary for every
    * backtracking alternative), so the match at a boundary start is
    * unique when it exists — greedy, longest, and this scan agree.
    * Boundaries are evaluated against the real neighboring chars, as
    * Java's find() does after a previous match.
    */
  def piiIpv4Scan(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val js = s.toString
    val len = js.length
    var count = 0L
    var sb: java.lang.StringBuilder = null
    var consumed = 0
    var p = 0
    while (p < len) {
      val c = js.charAt(p)
      if (c >= '0' && c <= '9' && (p == 0 || !isWordChar(js.charAt(p - 1)))) {
        var pos = p
        var oct = 0
        var ok = true
        while (ok && oct < 4) {
          var r = 0
          while (pos + r < len && { val d = js.charAt(pos + r); d >= '0' && d <= '9' }) r += 1
          if (r < 1 || r > 3) ok = false
          else {
            pos += r
            if (oct < 3) {
              if (pos < len && js.charAt(pos) == '.') pos += 1 else ok = false
            } else if (pos < len && isWordChar(js.charAt(pos))) ok = false
          }
          oct += 1
        }
        if (ok) {
          if (sb == null) sb = new java.lang.StringBuilder(len)
          sb.append(js, consumed, p).append("<IP>")
          consumed = pos
          count += 1
          p = pos
        } else p += 1
      } else p += 1
    }
    val red = if (count == 0L) s else {
      sb.append(js, consumed, len)
      UTF8String.fromString(sb.toString)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](count, red))
  }

  /** `\b([0-9]{3}-)?[0-9]{3}-[0-9]{4}\b` — count plus `<PHONE>` redaction.
    * Exact quantifiers leave the optional area-code group as the only
    * choice point, so the match attempt at a boundary start is a
    * two-case check over full digit runs (a run longer than its
    * quantifier leaves a digit where `-` or the trailing boundary must
    * be, failing every alternative — same argument as the IPv4 kernel):
    * case A (group present) needs runs 3-3-4 dash-separated; case B
    * (group absent, tried second exactly as backtracking does) needs
    * 3-4. A failed A never rescues via a shorter group — the group
    * matches all of `[0-9]{3}-` or nothing.
    */
  def piiPhoneScan(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val js = s.toString
    val len = js.length
    var count = 0L
    var sb: java.lang.StringBuilder = null
    var consumed = 0
    def digitRun(from: Int): Int = {
      var r = 0
      while (from + r < len && { val d = js.charAt(from + r); d >= '0' && d <= '9' }) r += 1
      r
    }
    var p = 0
    while (p < len) {
      val c = js.charAt(p)
      var end = -1
      if (c >= '0' && c <= '9' && (p == 0 || !isWordChar(js.charAt(p - 1)))) {
        if (digitRun(p) == 3 && p + 3 < len && js.charAt(p + 3) == '-') {
          val r2 = digitRun(p + 4)
          // case A: 3-3-4 with a trailing boundary
          if (r2 == 3 && p + 7 < len && js.charAt(p + 7) == '-' &&
              digitRun(p + 8) == 4 &&
              (p + 12 >= len || !isWordChar(js.charAt(p + 12)))) end = p + 12
          // case B: 3-4 with a trailing boundary
          else if (r2 == 4 && (p + 8 >= len || !isWordChar(js.charAt(p + 8)))) end = p + 8
        }
      }
      if (end >= 0) {
        if (sb == null) sb = new java.lang.StringBuilder(len)
        sb.append(js, consumed, p).append("<PHONE>")
        consumed = end
        count += 1
        p = end
      } else p += 1
    }
    val red = if (count == 0L) s else {
      sb.append(js, consumed, len)
      UTF8String.fromString(sb.toString)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](count, red))
  }

  /** Aho–Corasick automaton over a literal gram set, compiled to a dense
    * DFA over the grams' compact alphabet — built ONCE per plan (a
    * codegen reference object) and shared by every task. Matching is one
    * array step per UTF-16 code unit: chars outside the gram alphabet
    * reset to the root (no gram contains them, so every fail chain would
    * land there anyway). Duplicate grams (the same trigram in two
    * languages' profiles — "ion" is in both en and fr) are separate
    * pattern ids ending at the same node; each keeps its own
    * non-overlap cursor so both languages score the occurrence.
    *
    * Occurrence semantics per pattern are regexp_replace's: leftmost
    * non-overlapping. AC reports matches by end position; counting a
    * match only when its start clears the pattern's previous counted end
    * reproduces the greedy left-to-right scan exactly (matches of one
    * pattern all have equal length, so greedy-by-end = greedy-by-start).
    */
  final class GramAutomaton(grams: Array[String], val langOf: Array[Int],
                            val nLangs: Int) extends Serializable {
    require(grams.length == langOf.length)
    val nPatterns: Int = grams.length
    val patLen: Array[Int] = grams.map(_.length)
    // score weight = CHARACTER (codepoint) count, matching
    // length(t) - length(regexp_replace(t, g, '')) in Spark and DuckDB
    val patWeight: Array[Long] = grams.map(g => g.codePointCount(0, g.length).toLong)

    // compact alphabet: chars appearing in any gram; everything else resets
    val symOf: Array[Short] = {
      val a = Array.fill[Short](Char.MaxValue + 1)(-1)
      var next = 0
      grams.foreach(_.foreach { ch =>
        if (a(ch) < 0) { a(ch) = next.toShort; next += 1 }
      })
      a
    }
    private val nSym: Int = {
      var m = 0
      symOf.foreach(s => if (s >= m) m = s + 1)
      m
    }

    // trie + BFS fail links, then flattened to a full DFA delta table
    val (delta: Array[Array[Int]], out: Array[Array[Int]]) = {
      val kids = scala.collection.mutable.ArrayBuffer(Array.fill(nSym)(-1))
      val outs = scala.collection.mutable.ArrayBuffer(List.empty[Int])
      grams.zipWithIndex.foreach { case (g, p) =>
        var node = 0
        g.foreach { ch =>
          val sym = symOf(ch)
          if (kids(node)(sym) < 0) {
            kids += Array.fill(nSym)(-1)
            outs += Nil
            kids(node)(sym) = kids.length - 1
          }
          node = kids(node)(sym)
        }
        outs(node) = p :: outs(node)
      }
      val n = kids.length
      val fail = new Array[Int](n)
      val d = Array.ofDim[Int](n, nSym)
      val queue = scala.collection.mutable.Queue.empty[Int]
      var s = 0
      while (s < nSym) {
        val c = kids(0)(s)
        if (c >= 0) { fail(c) = 0; queue += c; d(0)(s) = c } else d(0)(s) = 0
        s += 1
      }
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        outs(u) = outs(u) ++ outs(fail(u))
        var s2 = 0
        while (s2 < nSym) {
          val c = kids(u)(s2)
          if (c >= 0) { fail(c) = d(fail(u))(s2); queue += c; d(u)(s2) = c }
          else d(u)(s2) = d(fail(u))(s2)
          s2 += 1
        }
      }
      (d, outs.map(_.toArray.sorted).toArray)
    }
  }

  /** Multi-pattern length-weighted gram vote in ONE pass over the
    * lowercased text: score(lang) = Σ over its grams of
    * (non-overlapping occurrences × gram chars) — exactly
    * Σ (length(t) − length(regexp_replace(t, g, ''))) — winner is the
    * max score, ties to the FIRST language listed. The declarative form
    * ran one regexp_replace scan per gram (20 stripped copies of every
    * document per row for the 4×5 default profiles) and paid the per-char
    * regex tax on each; this is one DFA step per char. Lowercasing uses
    * UTF8String.toLowerCase — the same code lower() runs.
    */
  def ngramLangPick(s: UTF8String, a: GramAutomaton,
                    langs: Array[UTF8String]): UTF8String = {
    val js = s.toLowerCase.toString
    val counts = new Array[Long](a.nPatterns)
    val nextOk = new Array[Int](a.nPatterns)
    val symOf = a.symOf
    val delta = a.delta
    val out = a.out
    var state = 0
    var i = 0
    while (i < js.length) {
      val sym = symOf(js.charAt(i))
      state = if (sym < 0) 0 else delta(state)(sym)
      val o = out(state)
      var k = 0
      while (k < o.length) {
        val p = o(k)
        val start = i - a.patLen(p) + 1
        if (start >= nextOk(p)) { counts(p) += 1; nextOk(p) = i + 1 }
        k += 1
      }
      i += 1
    }
    val scores = new Array[Long](a.nLangs)
    var p = 0
    while (p < a.nPatterns) {
      scores(a.langOf(p)) += counts(p) * a.patWeight(p)
      p += 1
    }
    var best = 0
    var b = 1
    while (b < a.nLangs) {
      if (scores(b) > scores(best)) best = b
      b += 1
    }
    langs(best)
  }
}

/** The shared body of the native kernel expressions: the input type check
  * and the generated call, `NativeKernels.<kernel>(<child values>,
  * <constArgs>)`. Each kernel class says only which method it calls, on
  * what input types, with which constant arguments, its `dataType`, and
  * its interpreted call. That `nullSafeEval` calls the kernel directly,
  * because the `CodegenFallback` higher-order functions (`aggregate`,
  * `transform`, `zip_with`) run their lambdas interpreted: ivfAssign's
  * centroid fold calls the cosine kernel once per centroid per row.
  * Inputs are matched, never cast: an ARRAY<DOUBLE> given to a float
  * kernel fails analysis.
  */
trait NativeKernelCall extends Expression {
  /** The NativeKernels method the generated code calls. */
  protected def kernel: String
  /** One type per child; an array's element nullability is not checked. */
  protected def inputTypes: Seq[DataType]
  /** Java source of the arguments after the children's values: literals,
    * or names from `ctx.addReferenceObj`. */
  protected def constArgs(ctx: CodegenContext): Seq[String] = Nil

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).corresponds(inputTypes) {
      case (ArrayType(got, _), ArrayType(want, _)) => got == want
      case (got, want) => got == want
    }) TypeCheckSuccess
    else TypeCheckFailure(s"expects ${inputTypes.map(_.sql).mkString(", ")}")

  /** The kernel's call on the children's generated values. */
  protected def kernelCall(ctx: CodegenContext): Seq[String] => String = {
    val consts = constArgs(ctx)
    args => (args ++ consts).mkString(
      s"graft.functions.expressions.NativeKernels.$kernel(", ", ", ")")
  }
}

/** A [[NativeKernelCall]] on one child of type `inputType`. */
abstract class NativeUnary(protected val kernel: String, inputType: DataType,
                           override val dataType: DataType)
    extends UnaryExpression with NativeKernelCall with Serializable {
  override protected def inputTypes: Seq[DataType] = Seq(inputType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernelCall(ctx)
    defineCodeGen(ctx, ev, c => call(Seq(c)))
  }
}

object NativeUnary {
  /** ARRAY<BIGINT> without NULL elements: token hashes in, shingle hashes out. */
  val LongArray: DataType = ArrayType(LongType, containsNull = false)
  /** (n, redacted): a PII scan's match count and its redacted text. */
  val PiiScan: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("redacted", StringType, nullable = false)))
}

/** h = fold (h*31 + codepoint) mod `mod` over the string's codepoints. */
case class PolyHash(child: Expression, mod: Long)
    extends NativeUnary("polyHash", StringType, LongType) {
  override protected def constArgs(ctx: CodegenContext) = Seq(s"${mod}L")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.polyHash(input.asInstanceOf[UTF8String], mod)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** DEFLATE compression ratio (compressed/raw bytes) — the classic
  * repetitiveness signal (highly repetitive boilerplate compresses far
  * below natural text). Level is fixed and nowrap (raw deflate), so the
  * value is deterministic for a given zlib; it is NOT oracle-portable
  * (DuckDB has no deflate), hence spec-verified rather than hash-graded.
  * Empty/whitespace-only strings report 1.0 (nothing to compress).
  */
case class CompressionRatio(child: Expression)
    extends NativeUnary("compressionRatio", StringType, DoubleType) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.compressionRatio(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass stopword-profile language vote — see NativeKernels.langIdPick. */
case class LangIdPick(child: Expression, langs: Seq[String], wordSets: Seq[Seq[String]])
    extends NativeUnary("langIdPick", StringType, StringType) {
  require(langs.length == wordSets.length && langs.length <= 32)
  @transient private lazy val maskMap: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    wordSets.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        m.merge(k, Integer.valueOf(1 << i), (a, b) => a | b)
      }
    }
    m
  }
  @transient private lazy val langsU: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray
  override protected def constArgs(ctx: CodegenContext) = Seq(
    ctx.addReferenceObj("langMask", maskMap, classOf[java.util.HashMap[_, _]].getName),
    ctx.addReferenceObj("langNames", langsU, s"${classOf[UTF8String].getName}[]"))
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.langIdPick(input.asInstanceOf[UTF8String], maskMap, langsU)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass length-weighted character-n-gram language vote — see
  * NativeKernels.ngramLangPick. NULL text → NULL prediction (standard
  * null propagation; empty/zero-score docs get the first language).
  */
case class NgramLangPick(child: Expression, langs: Seq[String], gramSets: Seq[Seq[String]])
    extends NativeUnary("ngramLangPick", StringType, StringType) {
  require(langs.length == gramSets.length && langs.nonEmpty)
  require(gramSets.forall(_.forall(_.nonEmpty)), "empty gram")
  // grams are matched as LITERALS (Aho–Corasick); the regexp_replace
  // formulation this kernel replaced would have treated a metacharacter
  // as regex syntax, so a gram containing one must fail loudly rather
  // than silently diverge from an external replay of the regexp form
  require(gramSets.forall(_.forall(g => !g.exists("\\^$.|?*+()[]{}".contains(_)))),
    "grams are literal strings; regex metacharacters are not supported")
  @transient private lazy val automaton: NativeKernels.GramAutomaton = {
    // grams are matched VERBATIM against the lowercased text, exactly like
    // regexp_replace(lower(t), gram, ...) — an uppercase gram never matches
    // there either, so it must not match here
    val flat = gramSets.zipWithIndex.flatMap { case (gs, i) => gs.map(g => (g, i)) }
    new NativeKernels.GramAutomaton(
      flat.map(_._1).toArray, flat.map(_._2).toArray, langs.length)
  }
  @transient private lazy val langsU: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray
  override protected def constArgs(ctx: CodegenContext) = Seq(
    ctx.addReferenceObj("gramAutomaton", automaton, classOf[NativeKernels.GramAutomaton].getName),
    ctx.addReferenceObj("gramLangs", langsU, s"${classOf[UTF8String].getName}[]"))
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.ngramLangPick(input.asInstanceOf[UTF8String], automaton, langsU)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass quality token stats (n_tokens, sum_token_len, stop_hits) with
  * no token-array materialization — see NativeKernels.tokenStats. */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends NativeUnary("tokenStats", StringType, StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("sum_token_len", LongType, nullable = false),
      StructField("stop_hits", LongType, nullable = false)))) {
  // entries kept VERBATIM: the declarative form tests
  // array_contains(stopList, lower(token)), so an uppercase list entry
  // never matches there and must not match here
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(w => s.add(w))
    s
  }
  @transient private lazy val maxStopLen: Int =
    if (stopwords.isEmpty) 0 else stopwords.map(_.length).max
  override protected def constArgs(ctx: CodegenContext) = Seq(
    ctx.addReferenceObj("stopSet", stopSet, classOf[java.util.HashSet[_]].getName), s"$maxStopLen")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.tokenStats(input.asInstanceOf[UTF8String], stopSet, maxStopLen)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass Gopher-rule feature stats — see NativeKernels.gopherStats. */
case class GopherStats(child: Expression, stopwords: Seq[String])
    extends NativeUnary("gopherStats", StringType, StructType(Seq(
      "n_words", "sum_word_len", "alpha_words", "stop_distinct", "hash_cnt", "ell3_cnt",
      "ellch_cnt", "n_lines", "bullet_lines", "ellipsis_lines"
    ).map(StructField(_, LongType, nullable = false)))) {
  require(stopwords.size <= 64, "stop_distinct uses a 64-bit presence mask")
  @transient private lazy val stopIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    stopwords.zipWithIndex.foreach { case (w, i) => m.put(w, Integer.valueOf(i)) }
    m
  }
  @transient private lazy val maxStopLen: Int =
    if (stopwords.isEmpty) 0 else stopwords.map(_.length).max
  override protected def constArgs(ctx: CodegenContext) = Seq(
    ctx.addReferenceObj("gopherStopIdx", stopIdx, classOf[java.util.HashMap[_, _]].getName),
    s"$maxStopLen")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.gopherStats(input.asInstanceOf[UTF8String], stopIdx, maxStopLen)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass email count + `<EMAIL>` redaction — see
  * NativeKernels.piiEmailScan. */
case class PiiEmailScan(child: Expression)
    extends NativeUnary("piiEmailScan", StringType, PiiScan) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.piiEmailScan(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass phone count + `<PHONE>` redaction — see
  * NativeKernels.piiPhoneScan. */
case class PiiPhoneScan(child: Expression)
    extends NativeUnary("piiPhoneScan", StringType, PiiScan) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.piiPhoneScan(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass IPv4 count + `<IP>` redaction — see
  * NativeKernels.piiIpv4Scan. */
case class PiiIpv4Scan(child: Expression)
    extends NativeUnary("piiIpv4Scan", StringType, PiiScan) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.piiIpv4Scan(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Per-document (top_token, top_cnt, n_tokens) — see
  * NativeKernels.topTokenStats. */
case class TopTokenStats(child: Expression)
    extends NativeUnary("topTokenStats", StringType, StructType(Seq(
      StructField("top_token", StringType, nullable = true),
      StructField("top_cnt", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false)))) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.topTokenStats(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Count of maximal runs of chars from a literal set — see
  * NativeKernels.runCountInSet. */
case class RunCountInSet(child: Expression, set: String)
    extends NativeUnary("runCountInSet", StringType, LongType) {
  private val setU = UTF8String.fromString(set)
  override protected def constArgs(ctx: CodegenContext) =
    Seq(ctx.addReferenceObj("runSet", setU, classOf[UTF8String].getName))
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.runCountInSet(input.asInstanceOf[UTF8String], setU)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass BPE-ish subword segment count — see NativeKernels.subwordCount. */
case class SubwordCount(child: Expression)
    extends NativeUnary("subwordCount", StringType, LongType) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.subwordCount(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass lowercase + non-alnum→space + whitespace collapse + trim —
  * see NativeKernels.normalizeText. */
case class NormalizeText(child: Expression)
    extends NativeUnary("normalizeText", StringType, StringType) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.normalizeText(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** One-pass script/charset codepoint counts — see NativeKernels.scriptCounts. */
case class ScriptCounts(child: Expression)
    extends NativeUnary("scriptCounts", StringType, ArrayType(LongType, containsNull = false)) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.scriptCounts(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Whitespace tokens → array of their polyHashes, one pass. */
case class TokenPolyHashes(child: Expression, mod: Long)
    extends NativeUnary("tokenPolyHashes", StringType, ArrayType(LongType, containsNull = false)) {
  override protected def constArgs(ctx: CodegenContext) = Seq(s"${mod}L")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.tokenPolyHashes(input.asInstanceOf[UTF8String], mod)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Whitespace tokens (\\s+ runs, empties removed) as an array of strings. */
case class Tokenize(child: Expression)
    extends NativeUnary("tokenize", StringType, ArrayType(StringType, containsNull = false)) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.tokenize(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Distinct Horner shingle hashes over a token-hash array. */
case class ShingleHashSet(child: Expression, shingleN: Int, b: Long, p: Long)
    extends NativeUnary("shingleHashSet", LongArray, LongArray) {
  override protected def constArgs(ctx: CodegenContext) = Seq(s"$shingleN", s"${b}L", s"${p}L")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.shingleHashSet(input.asInstanceOf[ArrayData], shingleN, b, p)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Positional n-gram shingle hashes (ordered, duplicates kept). */
case class ShingleHashesAll(child: Expression, shingleN: Int, b: Long, p: Long)
    extends NativeUnary("shingleHashesAll", LongArray, LongArray) {
  override protected def constArgs(ctx: CodegenContext) = Seq(s"$shingleN", s"${b}L", s"${p}L")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.shingleHashesAll(input.asInstanceOf[ArrayData], shingleN, b, p)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Winnowed fingerprint set (distinct sliding-window minima of the n-gram
  * shingle-hash sequence, window `w`) — see NativeKernels.winnowHashes.
  */
case class WinnowHashes(child: Expression, shingleN: Int, window: Int, b: Long, p: Long)
    extends NativeUnary("winnowHashes", LongArray, LongArray) {
  override protected def constArgs(ctx: CodegenContext) =
    Seq(s"$shingleN", s"$window", s"${b}L", s"${p}L")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.winnowHashes(input.asInstanceOf[ArrayData], shingleN, window, b, p)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** MinHash signature (k mins over affine-permuted shingle hashes). */
case class MinHashSig(child: Expression, shingleN: Int, as: Seq[Long], bs: Seq[Long],
                      b: Long, p: Long)
    extends NativeUnary("minHashSig", LongArray, LongArray) {
  @transient private lazy val aArr = as.toArray
  @transient private lazy val bArr = bs.toArray
  override protected def constArgs(ctx: CodegenContext) = Seq(s"$shingleN",
    ctx.addReferenceObj("minhashA", aArr, "long[]"),
    ctx.addReferenceObj("minhashB", bArr, "long[]"), s"${b}L", s"${p}L")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.minHashSig(input.asInstanceOf[ArrayData], shingleN, aArr, bArr, b, p)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** 32-bit SimHash packed from token hashes. */
case class SimHash32(child: Expression)
    extends NativeUnary("simHash32", LongArray, LongType) {
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.simHash32(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Deletion-neighborhood blocking hashes for the edit-distance join. */
case class DeletionVariantHashes(child: Expression, k: Int)
    extends NativeUnary("deletionVariantHashes", StringType, LongArray) {
  override protected def constArgs(ctx: CodegenContext) = Seq(s"$k")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.deletionVariantHashes(input.asInstanceOf[UTF8String], k)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Packed random-hyperplane LSH signature over a float vector. */
case class LshSignatureF(child: Expression, nPlanes: Int)
    extends NativeUnary("lshSignatureF", ArrayType(FloatType), LongType) {
  override protected def constArgs(ctx: CodegenContext) = Seq(s"$nPlanes")
  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.lshSignatureF(input.asInstanceOf[ArrayData], nPlanes)
  override protected def withNewChildInternal(newChild: Expression) = copy(child = newChild)
}

/** Fused cosine similarity over two float arrays. */
case class CosineSimF(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernelCall {
  override def dataType: DataType = DoubleType
  override protected def kernel = "cosineF"
  override protected def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = kernelCall(ctx)
    defineCodeGen(ctx, ev, (a, b) => call(Seq(a, b)))
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
}

/** size(array_intersect(a, b)) for sorted distinct long OR int arrays
  * (both sides the same element type), without materializing the
  * intersection. The int form exists because PortableHash shingles are
  * mod 2^31−1: int-packing the sorted sets halves every byte the
  * verification record-joins shuffle.
  */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  private def intElems: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckSuccess
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckSuccess
    case _ => TypeCheckFailure("expects two ARRAY<BIGINT> or two ARRAY<INT>")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (intElems)
      NativeKernels.sortedIntersectCountI(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      NativeKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (intElems) "sortedIntersectCountI" else "sortedIntersectCount"
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.NativeKernels.$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
}

/** Column-level constructors. */
object NativeExpressions {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def polyHash(s: Column, mod: Long): Column = c(PolyHash(e(s), mod))
  def tokenPolyHashes(s: Column, mod: Long): Column = c(TokenPolyHashes(e(s), mod))
  def tokenize(s: Column): Column = c(Tokenize(e(s)))
  def shingleHashSet(tokenHashes: Column, shingleN: Int, b: Long, p: Long): Column =
    c(ShingleHashSet(e(tokenHashes), shingleN, b, p))
  def shingleHashesAll(tokenHashes: Column, shingleN: Int, b: Long, p: Long): Column =
    c(ShingleHashesAll(e(tokenHashes), shingleN, b, p))
  def winnowHashes(tokenHashes: Column, shingleN: Int, window: Int, b: Long, p: Long): Column =
    c(WinnowHashes(e(tokenHashes), shingleN, window, b, p))
  def minHashSig(tokenHashes: Column, shingleN: Int, as: Seq[Long], bs: Seq[Long],
                 b: Long, p: Long): Column = c(MinHashSig(e(tokenHashes), shingleN, as, bs, b, p))
  def simHash32(tokenHashes: Column): Column = c(SimHash32(e(tokenHashes)))
  def cosineF(a: Column, b: Column): Column = c(CosineSimF(e(a), e(b)))
  def sortedIntersectCount(a: Column, b: Column): Column = c(SortedIntersectCount(e(a), e(b)))
  def compressionRatio(s: Column): Column = c(CompressionRatio(e(s)))
  def scriptCounts(s: Column): Column = c(ScriptCounts(e(s)))
  def normalizeText(s: Column): Column = c(NormalizeText(e(s)))
  def subwordCount(s: Column): Column = c(SubwordCount(e(s)))
  def runCountInSet(s: Column, set: String): Column = c(RunCountInSet(e(s), set))
  def topTokenStats(s: Column): Column = c(TopTokenStats(e(s)))
  def gopherStats(s: Column, stopwords: Seq[String]): Column = c(GopherStats(e(s), stopwords))
  def piiEmailScan(s: Column): Column = c(PiiEmailScan(e(s)))
  def piiPhoneScan(s: Column): Column = c(PiiPhoneScan(e(s)))
  def piiIpv4Scan(s: Column): Column = c(PiiIpv4Scan(e(s)))
  def tokenStats(s: Column, stopwords: Seq[String]): Column = c(TokenStats(e(s), stopwords))
  def langIdPick(s: Column, langs: Seq[String], wordSets: Seq[Seq[String]]): Column =
    c(LangIdPick(e(s), langs, wordSets))
  def ngramLangPick(s: Column, langs: Seq[String], gramSets: Seq[Seq[String]]): Column =
    c(NgramLangPick(e(s), langs, gramSets))
  def lshSignatureF(vec: Column, nPlanes: Int): Column = c(LshSignatureF(e(vec), nPlanes))
  def deletionVariantHashes(s: Column, k: Int): Column = c(DeletionVariantHashes(e(s), k))
}
