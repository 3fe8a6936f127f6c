package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField}
import org.apache.spark.sql.catalyst.expressions.objects.NewInstance
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-sketch kernels, as static methods that Catalyst calls
  * through [[Kernel]] (generated code calls them directly).
  *
  * The declarative formulation (64 `aggregate()` lambdas, each re-hashing every
  * shingle) produced megabyte codegen and O(64·shingles) string hashing per row.
  * These kernels do one pass over the token stream per row: hash each
  * shingle once, then derive the k MinHash slots (or 64 SimHash bit votes) with
  * long arithmetic. Preference order per the engine's design rules: compose
  * built-ins < a static kernel call < UDF — this is the middle tier (no
  * virtual calls in the loop).
  */
object TextSketch {

  /** 64-bit avalanche mix (splitmix64 finalizer — public domain constant set). */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Codepoints of `s`. The hash kernels fold Unicode codepoints — not UTF-16
    * code units — so the DuckDB oracle mirrors (which use `unicode()`, `len()`
    * and codepoint indexing) agree on supplementary-plane input (emoji, rare
    * CJK) too, not just BMP test data.
    */
  private[functions] def codePoints(s: String): Array[Int] = {
    val n = s.length
    var i = 0
    var bmp = true
    while (i < n) { if (Character.isHighSurrogate(s.charAt(i))) { bmp = false; i = n } else i += 1 }
    if (bmp) {
      val a = new Array[Int](n)
      var j = 0
      while (j < n) { a(j) = s.charAt(j); j += 1 }
      a
    } else s.codePoints().toArray
  }

  /** Rolling hash of word k-shingles; calls `onShingle` once per shingle. */
  private[functions] def foreachShingleHash(text: UTF8String, k: Int)(onShingle: Long => Unit): Unit = {
    val cp = codePoints(text.toString)
    val n = cp.length
    // word start offsets
    var wordCount = 0
    var i = 0
    val starts = new java.util.ArrayList[Integer]()
    var inWord = false
    while (i <= n) {
      val isSpace = i == n || cp(i) == ' '
      if (!isSpace && !inWord) { starts.add(i); inWord = true; wordCount += 1 }
      if (isSpace) inWord = false
      i += 1
    }
    if (wordCount < k) {
      if (wordCount > 0) { // short doc: single shingle of everything
        var h = 1125899906842597L
        var j = 0
        while (j < n) { h = 31 * h + cp(j); j += 1 }
        onShingle(mix64(h))
      }
      return
    }
    // per-word hashes, then combine k consecutive
    val wordHashes = new Array[Long](wordCount)
    var w = 0
    while (w < wordCount) {
      val from = starts.get(w)
      var to = from
      while (to < n && cp(to) != ' ') to += 1
      var h = 1125899906842597L
      var j = from
      while (j < to) { h = 31 * h + cp(j); j += 1 }
      wordHashes(w) = mix64(h)
      w += 1
    }
    var p = 0
    while (p + k <= wordCount) {
      var h = 0L
      var q = 0
      while (q < k) { h = h * 0x100000001b3L + wordHashes(p + q); q += 1 }
      onShingle(mix64(h))
      p += 1
    }
  }

  /** MinHash signature: k-shingle the words, hash each shingle once, derive
    * `numHashes` universal-hash variants (odd multiplier + offset per slot). */
  def minhash(text: UTF8String, shingleK: Int, numHashes: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    foreachShingleHash(text, shingleK) { h =>
      var i = 0
      while (i < numHashes) {
        // per-slot universal hash: odd multiplier and offset derived from slot id
        val v = mix64(h + i * 0xc2b2ae3d27d4eb4fL)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** 64-bit SimHash over whitespace tokens (1-shingles). */
  def simhash(text: UTF8String): Long = {
    val votes = new Array[Int](64)
    foreachShingleHash(text, 1) { h =>
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** Winnowing fingerprint: min rolling hash over codepoint windows. */
  def fingerprint(text: UTF8String, window: Int): Long = {
    val cp = codePoints(text.toString)
    val n = cp.length
    if (n == 0) return 0L
    if (n <= window) {
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = 31 * h + cp(i); i += 1 }
      return mix64(h)
    }
    // polynomial rolling hash with precomputed 31^(window-1)
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow *= 31; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = 31 * h + cp(i); i += 1 }
    var min = mix64(h)
    i = window
    while (i < n) {
      h = 31 * (h - cp(i - window) * pow) + cp(i)
      val m = mix64(h)
      if (m < min) min = m
      i += 1
    }
    min
  }

  /** Winnowing fingerprint SET (Schleimer/Wilkerson/Aiken, SIGMOD'03, set
    * semantics): per-position k-gram rolling hashes (same hash as
    * `fingerprint`), then the distinct minima of every w-window over them,
    * sorted signed ascending. Set semantics make the selection tie-break
    * irrelevant, so the DuckDB mirror (SketchSql.winnowSetCte) agrees
    * bit-for-bit. Sliding min is the O(n) monotonic-deque, not O(n·w).
    * Empty text → empty set; text shorter than k → one whole-text hash. */
  def winnowSet(text: UTF8String, k: Int, w: Int): Array[Long] = {
    val cp = codePoints(text.toString)
    val n = cp.length
    if (n == 0) return Array.emptyLongArray
    val hs: Array[Long] =
      if (n <= k) {
        var h = 1125899906842597L
        var i = 0
        while (i < n) { h = 31 * h + cp(i); i += 1 }
        Array(mix64(h))
      } else {
        var pow = 1L
        var i = 0
        while (i < k - 1) { pow *= 31; i += 1 }
        val out = new Array[Long](n - k + 1)
        var h = 0L
        i = 0
        while (i < k) { h = 31 * h + cp(i); i += 1 }
        out(0) = mix64(h)
        i = k
        while (i < n) {
          h = 31 * (h - cp(i - k) * pow) + cp(i)
          out(i - k + 1) = mix64(h)
          i += 1
        }
        out
      }
    val set = new java.util.TreeSet[java.lang.Long]()
    val m = hs.length
    if (m <= w) {
      var min = hs(0)
      var i = 1
      while (i < m) { if (hs(i) < min) min = hs(i); i += 1 }
      set.add(min)
    } else {
      // deque of indices, values signed-increasing front to back
      val deque = new Array[Int](m)
      var head = 0
      var tail = 0 // exclusive
      var i = 0
      while (i < m) {
        if (head < tail && deque(head) <= i - w) head += 1
        while (head < tail && hs(deque(tail - 1)) >= hs(i)) tail -= 1
        deque(tail) = i
        tail += 1
        if (i >= w - 1) set.add(hs(deque(head)))
        i += 1
      }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

object TextSketchMore {
  /** Sorted distinct shingle hashes — the exact-Jaccard operand. Joining on
    * array<long> instead of array<string> keeps the verification shuffle narrow. */
  def shingleHashes(text: UTF8String, k: Int): Array[Long] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    TextSketch.foreachShingleHash(text, k)(h => { set.add(h); () })
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Non-empty space-separated tokens of `s` (the shared tokenization of the
    * word-shingle kernels: runs of ' ' separate, empty tokens dropped). */
  private def tokens(s: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      val from = i
      while (i < n && s.charAt(i) != ' ') i += 1
      if (i > from) out.add(s.substring(from, i))
    }
    out.toArray(new Array[String](out.size))
  }

  /** POSITIONAL L-token-gram hashes: element p = hash of tokens[p .. p+k).
    * Same per-word poly+mix hash and FNV-prime k-gram combine as
    * `TextSketch.foreachShingleHash`, but order-preserving, duplicate-keeping
    * and with NO short-document fallback (fewer than k tokens → empty array):
    * substring-level dedup needs the gram's token offset, and a short document
    * has no L-token substring to deduplicate. */
  def tokenGramHashes(text: UTF8String, k: Int): Array[Long] = {
    val ws = tokens(text.toString)
    if (ws.length < k) return Array.emptyLongArray
    val wh = new Array[Long](ws.length)
    var w = 0
    while (w < ws.length) {
      val word = ws(w)
      var h = 1125899906842597L
      var j = 0
      // fold codepoints (BMP fast path matches TextSketch.codePoints)
      while (j < word.length) {
        val c = word.charAt(j)
        if (Character.isHighSurrogate(c) && j + 1 < word.length) {
          h = 31 * h + word.codePointAt(j); j += 2
        } else { h = 31 * h + c; j += 1 }
      }
      wh(w) = TextSketch.mix64(h)
      w += 1
    }
    val out = new Array[Long](ws.length - k + 1)
    var p = 0
    while (p + k <= ws.length) {
      var h = 0L
      var q = 0
      while (q < k) { h = h * 0x100000001b3L + wh(p + q); q += 1 }
      out(p) = TextSketch.mix64(h)
      p += 1
    }
    out
  }

  /** Remove the 0-based token ranges [starts(i), ends(i)) — sorted, disjoint —
    * and join the surviving tokens with single spaces (the normalized surface
    * both the engine and the DuckDB oracle reconstruct). */
  def dropTokenSpans(text: UTF8String,
      starts: org.apache.spark.sql.catalyst.util.ArrayData,
      ends: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val ws = tokens(text.toString)
    val ns = starts.numElements()
    val sb = new java.lang.StringBuilder(text.numBytes())
    var si = 0
    var i = 0
    while (i < ws.length) {
      while (si < ns && i >= ends.getInt(si)) si += 1
      val covered = si < ns && i >= starts.getInt(si)
      if (!covered) {
        if (sb.length > 0) sb.append(' ')
        sb.append(ws(i))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

object VectorSketch {
  /** Random-hyperplane LSH signature: bit p set iff the projection of the
    * vector onto pseudo-hyperplane p is positive; hyperplane components are
    * ±1 from the parity of mix64(d*K1 + p*K2) — seed-stable across executors,
    * no plane matrix broadcast, and exactly mirrorable in the DuckDB oracle
    * (graft.oracle.SketchSql.lshSignatureExpr). One pass, O(bits·dim) in a
    * single kernel call per row (replaces `bits` separate aggregate-lambda
    * passes). */
  def lshSignature(vec: org.apache.spark.sql.catalyst.util.ArrayData, bits: Int, isFloat: Boolean): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < bits) {
      val pOff = p.toLong * 0xc2b2ae3d27d4eb4fL
      var acc = 0.0
      var d = 0
      while (d < n) {
        val h = TextSketch.mix64(d.toLong * 0x9e3779b97f4a7c15L + pOff)
        val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        acc += x * (if ((h & 1L) == 0L) 1.0 else -1.0)
        d += 1
      }
      if (acc > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

object VectorKernels {
  /** Floored centroid norms — THE normalization the assignment rule uses.
    * Single definition shared by the corpus kernel (nearestCentroid), the
    * query-side probe scoring, and driver-side residual training: if these
    * ever diverged, PQ residuals would train against different lists than
    * the corpus assigns. */
  def centroidNorms(cents: Array[Array[Double]]): Array[Double] =
    cents.map(c => math.max(1e-12, math.sqrt(c.map(x => x * x).sum)))

  /** argmax over centroids of dot(v, c_i) / ||c_i|| — first index wins ties
    * (matching array_position semantics). One tight loop, no boxing: Spark's
    * higher-order array functions are CodegenFallback (interpreted per row),
    * which made the IVF assignment the bench's hottest spot. */
  def nearestCentroid(
      vec: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]], norms: Array[Double], isFloat: Boolean): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(vec.numElements(), c.length)
      var acc = 0.0
      var d = 0
      while (d < n) {
        acc += (if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)) * c(d)
        d += 1
      }
      val s = acc / norms(i)
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  /** Exact cosine over two numeric arrays — one tight fused loop replacing the
    * aggregate(zip_with(...)) formulation (Spark's higher-order array
    * functions are CodegenFallback, interpreted per row — the same cliff that
    * made the r2 IVF assignment 9x slower). The three accumulators each sum
    * left-to-right in double exactly like the separate dot/norm passes they
    * replace, so results stay bit-identical to the HOF plan and the DuckDB
    * oracle mirrors. */
  def cosineSim(
      a: org.apache.spark.sql.catalyst.util.ArrayData, aFloat: Boolean,
      b: org.apache.spark.sql.catalyst.util.ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var ab, aa, bb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    // zero vector → similarity 0, not NaN: Spark's descending sort places NaN
    // FIRST, so an unguarded dead embedding would outrank every real neighbor
    if (aa == 0.0 || bb == 0.0) 0.0
    else ab / (math.sqrt(aa) * math.sqrt(bb))
  }
}

/** Token-scan kernels: tight single-pass loops replacing filter(split(...))
  * and aggregate(...) higher-order formulations (CodegenFallback-interpreted).
  * All iterate Unicode codepoints, matching Spark's length()/split semantics
  * and the DuckDB oracles. */
object TextScan {

  /** Count tokens that are members of `set`. `byLetters=false` splits on the
    * single space character (== filter(split(text, " "), in set) semantics);
    * `byLetters=true` splits on non-letters (== split on "[^\\p{L}]+").
    * Callers pass pre-lowercased text (Spark lower()) so case folding stays
    * engine-consistent. */
  def tokenSetCount(text: UTF8String, set: Array[String], byLetters: Boolean): Int = {
    val s = text.toString
    val n = s.length
    var count = 0
    var i = 0
    while (i < n) {
      var cp = s.codePointAt(i)
      val sep = if (byLetters) !Character.isLetter(cp) else cp == ' '
      if (sep) i += Character.charCount(cp)
      else {
        val start = i
        var stop = false
        while (i < n && !stop) {
          cp = s.codePointAt(i)
          stop = if (byLetters) !Character.isLetter(cp) else cp == ' '
          if (!stop) i += Character.charCount(cp)
        }
        val tokLen = i - start
        var k = 0
        var found = false
        while (k < set.length && !found) {
          if (set(k).length == tokLen && s.regionMatches(start, set(k), 0, tokLen)) found = true
          k += 1
        }
        if (found) count += 1
      }
    }
    count
  }

  /** Nonempty space-separated token count (== len(list_filter(split(text,' '),
    * x -> len(x) > 0)) in the oracle). */
  def wordCount(text: UTF8String): Int = {
    val s = text.toString
    val n = s.length
    var count = 0
    var i = 0
    var inTok = false
    while (i < n) {
      if (s.charAt(i) == ' ') inTok = false
      else if (!inTok) { count += 1; inTok = true }
      i += 1
    }
    count
  }

  /** Count tokens present in a hashed vocabulary — the large-set variant of
    * tokenSetCount (O(1) membership instead of a linear set scan; for a
    * corpus-derived top-V vocab, V is hundreds+ and the scan variant would be
    * O(tokens·V)). Callers pass pre-lowercased text. */
  def tokenInVocab(text: UTF8String, vocab: java.util.HashSet[String]): Int = {
    val s = text.toString
    val n = s.length
    var count = 0
    var i = 0
    while (i < n) {
      if (s.charAt(i) == ' ') i += 1
      else {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        if (vocab.contains(s.substring(start, i))) count += 1
      }
    }
    count
  }

  private def isLN(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** Share of all word bigrams taken by the most frequent one — the
    * repetition signal public web-corpus filters use (Gopher-style "fraction
    * of characters in the most common n-gram"); 0.0 for documents with
    * fewer than two words. Words are the nonempty space-separated tokens,
    * compared as exact strings so the DuckDB oracle (string_split +
    * group-count) agrees bit-for-bit. */
  def topBigramShare(text: UTF8String): Double = {
    val s = text.toString
    val n = s.length
    val counts = new java.util.HashMap[String, Integer]()
    var prev: String = null
    var total = 0
    var max = 0
    var i = 0
    while (i < n) {
      if (s.charAt(i) == ' ') i += 1
      else {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        val w = s.substring(start, i)
        if (prev != null) {
          val key = prev + " " + w
          val c0 = counts.get(key)
          val c = if (c0 == null) 1 else c0.intValue() + 1
          counts.put(key, c)
          if (c > max) max = c
          total += 1
        }
        prev = w
      }
    }
    if (total == 0) 0.0 else max.toDouble / total
  }

  /** Count of U+0020 code points by raw byte scan — 0x20 can only encode the
    * space character in UTF-8 (continuation and lead bytes are ≥ 0x80), so no
    * decode is needed. Equals `length(text) − length(remove-spaces(text))`
    * without the regexp Matcher + full-copy StringBuffer per row (r7: the
    * quality-gate queries spent their per-row time there). */
  def spaceCount(text: UTF8String): Int = {
    val nb = text.numBytes()
    var count = 0
    var i = 0
    while (i < nb) {
      if (text.getByte(i) == 0x20) count += 1
      i += 1
    }
    count
  }

  /** split(" ") token count: 0 for the empty string, else spaces + 1 —
    * byte-for-byte the `length − length(regexp_replace(text," ","")) + 1`
    * column it replaces (split-token count, empty tokens included). */
  def wsTokenCountKernel(text: UTF8String): Int =
    if (text.numBytes() == 0) 0 else spaceCount(text) + 1

  /** Count of Java `\p{Punct}` code points (the POSIX punct class: ASCII
    * 33-47, 58-64, 91-96, 123-126 — all single-byte in UTF-8, so a raw byte
    * scan is exact). Equals `length(text) − length(strip-punct(text))`. */
  def punctCount(text: UTF8String): Int = {
    val nb = text.numBytes()
    var count = 0
    var i = 0
    while (i < nb) {
      val b = text.getByte(i)
      if ((b >= 33 && b <= 47) || (b >= 58 && b <= 64) ||
          (b >= 91 && b <= 96) || (b >= 123 && b <= 126)) count += 1
      i += 1
    }
    count
  }

  /** Overlapping word-window chunks as byte-range slices: window i covers
    * split(" ") tokens [i·stride, i·stride+size), windows start while the
    * start index is inside the token list. Because split/join on the same
    * single-space delimiter is lossless, each chunk is literally the text
    * between two space boundaries — so this emits zero-copy slices of one
    * byte array instead of the split → transform → slice → array_join chain
    * (every step of which is a CodegenFallback higher-order function,
    * interpreted per row). Spaces are located by byte scan (see spaceCount);
    * slice boundaries at 0x20 bytes are always valid UTF-8 boundaries. */
  def chunkWords(text: UTF8String, size: Int, stride: Int): Array[UTF8String] = {
    val bytes = text.getBytes // returns the backing array when exact-sized
    val nb = bytes.length
    var nSpaces = 0
    var i = 0
    while (i < nb) { if (bytes(i) == 0x20) nSpaces += 1; i += 1 }
    val spacePos = new Array[Int](nSpaces)
    var k = 0
    i = 0
    while (i < nb) { if (bytes(i) == 0x20) { spacePos(k) = i; k += 1 }; i += 1 }
    val nTokens = nSpaces + 1 // split(" ") semantics: "" -> [""], n = 1
    val out = new Array[UTF8String]((nTokens - 1) / stride + 1)
    var ci = 0
    var s = 0
    while (s <= nTokens - 1) {
      val startByte = if (s == 0) 0 else spacePos(s - 1) + 1
      val lastTok = math.min(s + size - 1, nTokens - 1)
      val endByte = if (lastTok == nTokens - 1) nb else spacePos(lastTok)
      out(ci) = UTF8String.fromBytes(bytes, startByte, endByte - startByte)
      ci += 1
      s += stride
    }
    out
  }

  /** BPE-ish word-token estimate: per \p{L}\p{N} run, 1 + (len-1)/4 tokens
    * (len in codepoints) — identical to the aggregate() over split words it
    * replaces. */
  def bpeishWordTokens(text: UTF8String): Long = {
    val s = text.toString
    val n = s.length
    var acc = 0L
    var i = 0
    while (i < n) {
      var cp = s.codePointAt(i)
      if (isLN(cp)) {
        var len = 0
        var stop = false
        while (i < n && !stop) {
          cp = s.codePointAt(i)
          if (isLN(cp)) { len += 1; i += Character.charCount(cp) } else stop = true
        }
        acc += 1L + (len - 1) / 4
      } else i += Character.charCount(cp)
    }
    acc
  }
}

/** The column functions and the SQL surface. Each one is a call of its
  * kernel method through [[Kernel]]. */
object TextHashes {
  import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
  import Kernel.{call, isFloat, primitiveArray}

  def minhash_signature(c: Column, shingleK: Int = 3, numHashes: Int = 64): Column =
    Kernel("minhash_signature", c)(primitiveArray(TextSketch, "minhash", LongType)(_, shingleK, numHashes))
  def simhash64(c: Column): Column = Kernel("simhash64", c)(call(TextSketch, "simhash", LongType)(_))
  def winnow_fingerprint(c: Column, window: Int = 16): Column =
    Kernel("winnow_fingerprint", c)(call(TextSketch, "fingerprint", LongType)(_, window))
  def winnow_set(c: Column, k: Int = 24, w: Int = 12): Column =
    Kernel("winnow_set", c)(primitiveArray(TextSketch, "winnowSet", LongType)(_, k, w))
  /** splitmix64 finalizer over a long column — the deterministic rank key for
    * hash-ordered sampling (mirrored exactly by SketchSql.mix64). */
  def mix64_col(c: Column): Column = Kernel("mix64", c)(call(TextSketch, "mix64", LongType)(_))
  def shingle_hashes(c: Column, shingleK: Int = 3): Column =
    Kernel("shingle_hashes", c)(primitiveArray(TextSketchMore, "shingleHashes", LongType)(_, shingleK))
  /** Positional L-token-gram hashes (array index = token offset) — the
    * substring-dedup candidate kernel; mirrored by SketchSql positional CTEs. */
  def token_gram_hashes(c: Column, gramK: Int): Column =
    Kernel("token_gram_hashes", c)(primitiveArray(TextSketchMore, "tokenGramHashes", LongType)(_, gramK))
  /** Clip sorted disjoint 0-based token ranges [starts(i), ends(i)) out of the
    * text; surviving tokens re-join on single spaces. */
  def drop_token_spans(text: Column, starts: Column, ends: Column): Column =
    Kernel("drop_token_spans", text, starts, ends)(call(TextSketchMore, "dropTokenSpans", StringType)(_, _, _))

  // The vector kernels read float or double elements, as the input column holds.
  def lsh_signature(c: Column, bits: Int): Column =
    Kernel("lsh_signature", c)(v => call(VectorSketch, "lshSignature", LongType)(v, bits, isFloat(v)))
  /** Nearest-centroid assignment for IVF: the centroid matrix and its norms
    * ride along as constants (broadcast-tiny — nlist × dim doubles). */
  def nearest_centroid(c: Column, centroids: Array[Array[Double]]): Column = {
    val norms = VectorKernels.centroidNorms(centroids)
    Kernel("nearest_centroid", c)(v =>
      call(VectorKernels, "nearestCentroid", IntegerType)(v, centroids, norms, isFloat(v)))
  }
  def cosine_sim(a: Column, b: Column): Column =
    Kernel("cosine_sim", a, b)((x, y) => call(VectorKernels, "cosineSim", DoubleType)(x, isFloat(x), y, isFloat(y)))

  def token_set_count(c: Column, words: Seq[String], byLetters: Boolean = false): Column = {
    val set = words.toArray
    Kernel("token_set_count", c)(call(TextScan, "tokenSetCount", IntegerType)(_, set, byLetters))
  }
  def ws_word_count(c: Column): Column = Kernel("ws_word_count", c)(call(TextScan, "wordCount", IntegerType)(_))
  def token_in_vocab(c: Column, words: Seq[String]): Column = {
    val vocab = new java.util.HashSet[String](words.length * 2)
    words.foreach(vocab.add)
    Kernel("token_in_vocab", c)(call(TextScan, "tokenInVocab", IntegerType)(_, vocab))
  }
  def bpeish_word_tokens(c: Column): Column =
    Kernel("bpeish_word_tokens", c)(call(TextScan, "bpeishWordTokens", LongType)(_))
  /** split(" ") token count by byte scan. */
  def ws_token_count(c: Column): Column =
    Kernel("ws_token_count", c)(call(TextScan, "wsTokenCountKernel", IntegerType)(_))
  /** Java \p{Punct} code-point count by byte scan. */
  def punct_count(c: Column): Column = Kernel("punct_count", c)(call(TextScan, "punctCount", IntegerType)(_))
  /** Overlapping word-window chunks as byte-range slices. The array may hold
    * nulls (containsNull = true), as the split/transform/array_join chain it
    * replaced did, so downstream schemas stay the same. */
  def chunk_words(c: Column, size: Int, stride: Int): Column = Kernel("chunk_words", c) { t =>
    val chunks = call(TextScan, "chunkWords", ObjectType(classOf[Array[UTF8String]]))(t, size, stride)
    NewInstance(classOf[GenericArrayData], Seq(chunks), ArrayType(StringType, containsNull = true))
  }
  def top_bigram_share(c: Column): Column =
    Kernel("top_bigram_share", c)(call(TextScan, "topBigramShare", DoubleType)(_))

  /** `extract_turn(payload)` — the one extraction path behind batch, streaming
    * and SQL: main-content extraction of a turn payload as a
    * [[ExtractTurn.dataType]] struct. Never null: a null payload goes to the
    * kernel and comes back quarantined. */
  def extract_turn(c: Column): Column =
    Kernel("extract_turn", c)(call(ExtractTurnKernel, "extract", ExtractTurn.dataType, nullIn = true)(_))

  /** The SQL surface as (name, usage, builder) — [[register]] and
    * [[GraftExtensions]] both install exactly this list. */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = {
    def sql(f: Seq[Column] => Column): Seq[Expression] => Expression =
      es => expression(f(es.map(column)))
    // a field accessor: a query selecting several fields still extracts once
    // per row (subexpression elimination shares the struct)
    def field(name: String): Seq[Expression] => Expression = es => GetStructField(
      expression(extract_turn(column(es.head))), ExtractTurn.dataType.fieldIndex(name), Some(name))
    Seq(
      ("extract_turn", "extract_turn(payload) - struct<extracted_text, spans, metrics>",
        sql(cs => extract_turn(cs.head))),
      ("extract_text", "extract_text(payload) - extract_turn(payload).extracted_text",
        field("extracted_text")),
      ("extract_spans", "extract_spans(payload) - extract_turn(payload).spans", field("spans")),
      ("minhash_signature", "minhash_signature(text) - 64-slot MinHash",
        sql(cs => minhash_signature(cs.head, 3, 64))),
      ("simhash64", "simhash64(text) - 64-bit SimHash", sql(cs => simhash64(cs.head))),
      ("shingle_hashes", "shingle_hashes(text) - distinct 3-shingle hashes",
        sql(cs => shingle_hashes(cs.head, 3))),
      ("winnow_fingerprint", "winnow_fingerprint(text) - rolling-hash fingerprint",
        sql(cs => winnow_fingerprint(cs.head, 16))),
      ("token_gram_hashes", "token_gram_hashes(text) - positional 50-token-gram hashes",
        sql(cs => token_gram_hashes(cs.head, 50))),
      ("drop_token_spans", "drop_token_spans(text, starts, ends) - clip token ranges",
        sql(cs => drop_token_spans(cs(0), cs(1), cs(2)))))
  }

  /** Register [[sqlFunctions]] on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
