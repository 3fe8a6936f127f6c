package graft.oracle

/** DuckDB SQL generators that mirror the engine's 64-bit sketch kernels
  * (graft.functions.TextSketch) bit-for-bit, so the driver's DuckDB oracle can
  * verify MinHash/SimHash/LSH/fingerprint queries instead of recording
  * rows-only checks.
  *
  * Java `Long` arithmetic wraps mod 2^64; DuckDB integer ops raise on
  * overflow. Values are therefore carried as UBIGINT (same bit patterns) and
  * every add/multiply routes through HUGEINT with an explicit mod 2^64. 64×64-bit
  * products would overflow even HUGEINT, so constant multiplies split the
  * multiplicand into 32-bit halves. Signed comparisons (Java Long ordering)
  * are recovered by biasing with 2^63.
  */
object SketchSql {

  private val Mod = "18446744073709551616" // 2^64

  def u(l: Long): String = java.lang.Long.toUnsignedString(l)

  def wrapAdd(a: String, b: String): String =
    s"CAST((($a)::HUGEINT + ($b)::HUGEINT) % $Mod AS UBIGINT)"

  /** (a * m) mod 2^64 for a constant m, via 32-bit half products. */
  def wrapMulConst(a: String, m: Long): String = {
    val mlo = m & 0xffffffffL
    val mhi = (m >>> 32) & 0xffffffffL
    val x = s"($a)"
    val hiHalf = s"(($x >> 32)::HUGEINT * $mlo + ($x & 4294967295)::HUGEINT * $mhi) % 4294967296"
    s"CAST((($hiHalf) * 4294967296 + ($x & 4294967295)::HUGEINT * $mlo) % $Mod AS UBIGINT)"
  }

  /** Small-constant multiply-add: (a*m + c) mod 2^64, m*a fits HUGEINT. */
  def wrapMulSmallAdd(a: String, m: Long, c: String): String =
    s"CAST(((($a)::HUGEINT * $m + ($c)::HUGEINT) % $Mod) AS UBIGINT)"

  /** splitmix64 finalizer (TextSketch.mix64) as chained single-element
    * list_transform let-bindings — linear SQL size, no expression blow-up. */
  def mix64(x: String): String = {
    val s1 = wrapAdd("z1", u(0x9e3779b97f4a7c15L))
    val s2 = wrapMulConst("xor(z2, z2 >> 30)", 0xbf58476d1ce4e5b9L)
    val s3 = wrapMulConst("xor(z3, z3 >> 27)", 0x94d049bb133111ebL)
    val s4 = "xor(z4, z4 >> 31)"
    s"list_transform(list_transform(list_transform(list_transform([($x)::UBIGINT], z1 -> $s1), z2 -> $s2), z3 -> $s3), z4 -> $s4)[1]"
  }

  /** Java-style polynomial char hash: fold 31*h + code over UTF-16 units
    * (TextSketch word hash, init 1125899906842597), pre-mix. */
  def polyCharHash(strExpr: String): String = {
    val codes = s"list_transform(range(1, len($strExpr) + 1), i -> unicode(($strExpr)[i])::UBIGINT)"
    s"list_reduce(list_prepend(CAST(1125899906842597 AS UBIGINT), $codes), (a, c) -> ${wrapMulSmallAdd("a", 31, "c")})"
  }

  /** Signed (Java Long) minimum of a UBIGINT list. */
  def signedMinList(lst: String): String =
    s"coalesce(list_min(list_filter($lst, v -> v >= 9223372036854775808)), list_min($lst))"

  /** UBIGINT bit pattern → signed BIGINT value (for LongType outputs). */
  def toSigned(x: String): String =
    s"CASE WHEN ($x) >= 9223372036854775808 THEN ((($x)::HUGEINT - $Mod))::BIGINT ELSE ($x)::BIGINT END"

  /** Per-document word-shingle hash list (TextSketch.foreachShingleHash):
    * whitespace words, per-word poly+mix hash, k-gram combine with the FNV
    * prime, mix64; short docs fall back to one whole-text shingle.
    * Emitted as a CTE body over a relation `src(id, text)`. */
  def shingleCte(k: Int): String = {
    val comb3 = {
      // h = ((0*P + w1)*P + w2)*P + ... built left to right
      (1 to k).foldLeft("CAST(0 AS UBIGINT)") { (acc, q) =>
        wrapAdd(wrapMulConst(acc, 0x100000001b3L), s"wh[p + ${q - 1}]")
      }
    }
    s"""wrds AS (
       |  SELECT id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws, text FROM src),
       |whash AS (
       |  SELECT id, list_transform(ws, w -> ${mix64(polyCharHash("w"))}) AS wh, ws, text FROM wrds),
       |shing AS (
       |  SELECT id,
       |    CASE WHEN len(ws) >= $k THEN
       |      list_transform(range(1, len(ws) - ${k - 1} + 1), p -> ${mix64(comb3)})
       |    WHEN len(ws) > 0 THEN [${mix64(polyCharHash("text"))}]
       |    ELSE [] END AS hs
       |  FROM whash)""".stripMargin
  }

  /** q47 oracle: corpus docs (id % benchMod != 0) sharing any word-k-shingle
    * hash with the benchmark subset (id % benchMod == 0), where docs with
    * id % 10 == 3 carry the first benchmark doc\u0027s leading 8 words appended
    * (the query\u0027s deterministic contamination set) — the decontaminate
    * semi-join mirrored over the same shingle kernel CTE. */
  def decontaminateOracle(shingleK: Int, benchMod: Int): String =
    s"""WITH sn AS (
       |  SELECT array_to_string((list_filter(string_split(text, ' '), w -> len(w) > 0))[1:8], ' ') AS sn
       |  FROM documents WHERE doc_id % $benchMod = 0 ORDER BY doc_id LIMIT 1),
       |src AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN doc_id % $benchMod <> 0 AND doc_id % 10 = 3
       |         THEN text || ' ' || sn.sn ELSE text END AS text
       |  FROM documents, sn),
       |${shingleCte(shingleK)},
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM shing WHERE id % $benchMod = 0),
       |corp AS (SELECT id, unnest(hs) AS h FROM shing WHERE id % $benchMod <> 0),
       |hit AS (SELECT DISTINCT corp.id FROM corp JOIN bench USING (h))
       |SELECT s.id AS doc_id,
       |  CAST(CASE WHEN hit.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM (SELECT id FROM src WHERE id % $benchMod <> 0) s
       |LEFT JOIN hit ON s.id = hit.id""".stripMargin

  /** q21 oracle: MinHash(k-shingles)+LSH banding candidates verified by exact
    * shingle-set Jaccard — mirrors Dedup.minhashNearDups over the union of
    * documents and their last-word-dropped twins. Band keys join on band
    * CONTENT (the engine hashes band content with xxhash64 purely to shorten
    * shuffle keys; equality semantics are identical). */
  def minhashNearDupsOracle(shingleK: Int, numHashes: Int, bands: Int, threshold: Double): String = {
    val rows = numHashes / bands
    val offs = (0 until numHashes).map(i => u(i.toLong * 0xc2b2ae3d27d4eb4fL))
    val offList = offs.mkString("[", ", ", "]")
    s"""WITH src AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS id, regexp_replace(text, ' [^ ]*$$', '') AS text FROM documents),
       |${shingleCte(shingleK)},
       |sh_un AS (SELECT id, unnest(hs) AS h FROM shing),
       |slotv AS (
       |  SELECT id, s.slot AS slot, ${mix64(wrapAdd("h", "s.off"))} AS v
       |  FROM sh_un, (SELECT unnest(range($numHashes)) AS slot, unnest($offList::UBIGINT[]) AS off) s),
       |sig AS (
       |  SELECT id, slot, ${signedMinList("list(v)")} AS mv
       |  FROM slotv GROUP BY id, slot),
       |bandkey AS (
       |  SELECT id, slot // $rows AS band, string_agg(mv::VARCHAR, ',' ORDER BY slot) AS key
       |  FROM sig GROUP BY id, slot // $rows),
       |cands AS (
       |  SELECT DISTINCT l.id AS a, r.id AS b
       |  FROM bandkey l JOIN bandkey r ON l.band = r.band AND l.key = r.key AND l.id < r.id),
       |sets AS (SELECT id, list_distinct(hs) AS sh FROM shing)
       |SELECT a, b FROM cands
       |JOIN sets sa ON sa.id = a JOIN sets sb ON sb.id = b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      len(list_distinct(list_concat(sa.sh, sb.sh))) >= $threshold
       |ORDER BY a, b""".stripMargin
  }

  /** q22 oracle: 64-bit SimHash over word 1-shingles, block-permutation
    * candidates, Hamming verify — mirrors Dedup.simhashNearDups. */
  def simhashNearDupsOracle(maxHamming: Int): String = {
    s"""WITH src AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS id, regexp_replace(text, ' [^ ]*$$', '') AS text FROM documents),
       |${shingleCte(1)},
       |sh_un AS (SELECT id, unnest(hs) AS h FROM shing),
       |votes AS (
       |  SELECT id, b.b AS b,
       |    SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM sh_un, (SELECT unnest(range(64)) AS b) b
       |  GROUP BY id, b.b),
       |fp AS (
       |  SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS UBIGINT) << b)::HUGEINT ELSE 0 END) AS UBIGINT) AS f
       |  FROM votes GROUP BY id),
       |blocks AS (
       |  SELECT id, f, blk.k AS blk, (f >> (blk.k * 16)) & 65535 AS key
       |  FROM fp, (SELECT unnest(range(4)) AS k) blk)
       |SELECT DISTINCT l.id AS a, r.id AS b
       |FROM blocks l JOIN blocks r ON l.blk = r.blk AND l.key = r.key AND l.id < r.id
       |WHERE bit_count(xor(l.f, r.f)) <= $maxHamming
       |ORDER BY a, b""".stripMargin
  }

  /** q43 oracle: winnowing fingerprint (min of mix64 over 31-poly char-window
    * hashes) + BPE-ish token estimate — mirrors TextStats.fingerprint and
    * bpeishTokenCount. */
  def fingerprintOracle(window: Int): String = {
    // 31^j mod 2^64 for j = window-1 .. 0 (Horner-free direct evaluation)
    val pows = (0 until window).map { j =>
      var p = 1L
      (0 until (window - 1 - j)).foreach(_ => p *= 31)
      p
    }
    // window hash at position p (1-based over chars c): sum c[p+j]*31^(window-1-j)
    val winHash = pows.zipWithIndex.map { case (pw, j) =>
      wrapMulConst(s"unicode(text[p + $j])::UBIGINT", pw)
    }.reduce((a, b) => wrapAdd(a, b))
    s"""WITH src AS (SELECT doc_id, text FROM documents),
       |win AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN len(text) = 0 THEN CAST(0 AS UBIGINT)
       |      WHEN len(text) <= $window THEN ${mix64(polyCharHash("text"))}
       |      ELSE ${signedMinList(s"list_transform(range(1, len(text) - $window + 2), p -> ${mix64(winHash)})")}
       |    END AS fp
       |  FROM src),
       |bpe AS (
       |  SELECT doc_id, ${bpeishToksExpr("src.text")} AS toks
       |  FROM src)
       |SELECT w.doc_id, ${toSigned("w.fp")} AS fingerprint, CAST(b.toks AS BIGINT) AS bpeish_tokens
       |FROM win w JOIN bpe b ON w.doc_id = b.doc_id""".stripMargin
  }

  /** q25 oracle: winnowing fingerprint-SET overlap pairs — mirrors
    * TextSketch.winnowSet (per-position k-gram window hashes, distinct minima
    * of every w-window, signed comparison) then counts shared fingerprints
    * per document pair. Set semantics on both sides make the winnowing
    * tie-break rule irrelevant to the comparison. */
  /** BPE-ish token estimate of a text expression — mirrors
    * TextStats.bpeishTokenCount (per alnum word: 1 + (len-1)//4 subwords;
    * plus one token per non-alnum non-space char). */
  def bpeishToksExpr(textExpr: String): String =
    s"""(SELECT coalesce(SUM(1 + greatest(0, (len(w) - 1) // 4)), 0)
       |     FROM unnest(list_filter(regexp_split_to_array($textExpr, '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)) AS t(w))
       |    + length(regexp_replace($textExpr, '[\\p{L}\\p{N}\\s]', '', 'g'))""".stripMargin

  /** CTE chain ending in `wpairs(id_a, id_b, shared)` — shared by the q25
    * pair oracle and the q26 component oracle. */
  private def winnowPairsCtes(k: Int, w: Int, minShared: Int): String = {
    val pows = (0 until k).map { j =>
      var p = 1L
      (0 until (k - 1 - j)).foreach(_ => p *= 31)
      p
    }
    val winHash = pows.zipWithIndex.map { case (pw, j) =>
      wrapMulConst(s"unicode(text[p + $j])::UBIGINT", pw)
    }.reduce((a, b) => wrapAdd(a, b))
    s"""src AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
       |hl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(text) <= $k THEN [${mix64(polyCharHash("text"))}]
       |    ELSE list_transform(range(1, len(text) - $k + 2), p -> ${mix64(winHash)})
       |    END AS hs
       |  FROM src),
       |mins AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) <= $w THEN [${signedMinList("hs")}]
       |    ELSE list_transform(range(1, len(hs) - $w + 2),
       |                        i -> ${signedMinList(s"list_slice(hs, i, i + ${w - 1})")})
       |    END AS ms
       |  FROM hl),
       |fps AS (SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM mins),
       |wpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minShared)""".stripMargin
  }

  def winnowPairsOracle(k: Int, w: Int, minShared: Int): String =
    s"""WITH ${winnowPairsCtes(k, w, minShared)}
       |SELECT id_a, id_b, shared FROM wpairs""".stripMargin

  /** q26 oracle: connected components of the winnow-pair graph via recursive
    * transitive closure — component(label) = min node reachable. Exact and
    * engine-independent; the closure is bounded by Σ component-size². */
  def winnowComponentsOracle(k: Int, w: Int, minShared: Int): String =
    s"""WITH RECURSIVE ${winnowPairsCtes(k, w, minShared)},
       |cedges AS (
       |  SELECT id_a AS u, id_b AS v FROM wpairs
       |  UNION SELECT id_b, id_a FROM wpairs),
       |reach(id, r) AS (
       |  SELECT u, u FROM cedges
       |  UNION
       |  SELECT w.id, e.v FROM reach w JOIN cedges e ON w.r = e.u)
       |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin

  /** q36 oracle: exact substring-level dedup (Lee et al. 2022 ExactSubstr
    * semantics over word grams) — positional L-token-gram hashes (the same
    * per-word poly+mix and FNV-prime combine as `shingleCte`, but
    * order-preserving, duplicate-keeping, no short-doc fallback), grams in ≥
    * `minDocs` distinct docs flag their token span, overlapping-or-adjacent
    * spans merge per doc (gaps-and-islands), merged spans clip out and the
    * survivors re-join on single spaces. Fixture matches the query side: docs
    * with doc_id % 10 = 3 carry the first document's leading `snip` words
    * appended (the planted cross-document spans). */
  def substringDedupOracle(l: Int, minDocs: Int, snip: Int): String = {
    // LINEAR Horner fold via list_reduce (the nested foldLeft form embeds its
    // accumulator 3x per level through wrapMulConst — 3^l SQL blow-up at l=15)
    val comb = s"list_reduce(list_prepend(CAST(0 AS UBIGINT), " +
      s"list_slice(wh, p, p + ${l - 1})), " +
      s"(a, c) -> ${wrapAdd(wrapMulConst("a", 0x100000001b3L), "c")})"
    s"""WITH sn AS (
       |  SELECT array_to_string(list_filter(string_split(text, ' '), w -> len(w) > 0)[1:$snip], ' ') AS sn
       |  FROM documents ORDER BY doc_id LIMIT 1),
       |src AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN doc_id % 10 = 3 THEN text || ' ' || sn.sn ELSE text END AS text
       |  FROM documents, sn),
       |wrds AS (SELECT id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws, text FROM src),
       |whash AS (SELECT id, list_transform(ws, w -> ${mix64(polyCharHash("w"))}) AS wh, ws FROM wrds),
       |grams AS (
       |  SELECT id, CASE WHEN len(ws) >= $l THEN
       |      list_transform(range(1, len(ws) - ${l - 1} + 1), p -> ${mix64(comb)})
       |    ELSE [] END AS hs
       |  FROM whash),
       |g AS (SELECT id, unnest(hs) AS h, unnest(range(len(hs))) AS pos FROM grams),
       |dup AS (SELECT h FROM (SELECT h, count(DISTINCT id) AS d FROM g GROUP BY h) WHERE d >= $minDocs),
       |flag AS (SELECT id, pos FROM g JOIN dup USING (h)),
       |isl AS (SELECT id, pos,
       |    CASE WHEN pos > coalesce(max(pos + $l) OVER (PARTITION BY id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS f
       |  FROM flag),
       |isl2 AS (SELECT id, pos, SUM(f) OVER (PARTITION BY id ORDER BY pos) AS grp FROM isl),
       |spans AS (SELECT id, grp, min(pos) AS s, max(pos) + $l AS e FROM isl2 GROUP BY id, grp),
       |perdoc AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(e - s) AS BIGINT) AS dropped_tokens,
       |    list(s ORDER BY s) AS ss, list(e ORDER BY s) AS es
       |  FROM spans GROUP BY id)
       |SELECT w.id AS doc_id,
       |  coalesce(p.n_spans, 0) AS n_spans,
       |  coalesce(p.dropped_tokens, 0) AS dropped_tokens,
       |  CASE WHEN p.ss IS NULL THEN w.text
       |    ELSE coalesce(array_to_string(flatten(list_transform(range(0, len(p.ss) + 1),
       |      i -> list_slice(w.ws, CASE WHEN i = 0 THEN 1 ELSE p.es[i] + 1 END,
       |                            CASE WHEN i < len(p.ss) THEN p.ss[i + 1] ELSE len(w.ws) END))), ' '), '')
       |  END AS kept_text
       |FROM wrds w LEFT JOIN perdoc p ON w.id = p.id""".stripMargin
  }

  /** Random-hyperplane LSH signature over a DOUBLE[] expression — mirrors the
    * `graft.functions.VectorSketch.lshSignature` kernel: bit p set iff sum_d v[d]*sign(d,p) > 0
    * where sign(d,p) = +1 when mix64((d)*K1 + p*K2) has even parity (d
    * 0-based). Pure list lambdas; summation order matches the kernel's
    * sequential loop. */
  def lshSignatureExpr(vecExpr: String, bits: Int): String = {
    val projs = (0 until bits).map { p =>
      val h = mix64(wrapAdd(wrapMulConst("(d - 1)::UBIGINT", 0x9e3779b97f4a7c15L),
        u(p.toLong * 0xc2b2ae3d27d4eb4fL)))
      val proj = s"list_sum(list_transform(range(1, len($vecExpr) + 1), " +
        s"d -> ($vecExpr)[d] * (CASE WHEN ($h) & 1 = 0 THEN 1.0 ELSE -1.0 END)))"
      s"(CASE WHEN $proj > 0 THEN ${1L << p} ELSE 0 END)"
    }
    projs.mkString("(", " + ", ")")
  }
}
