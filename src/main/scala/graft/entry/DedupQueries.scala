package graft.entry

import graft.entry.Inputs.t
import graft.ops.{Dedup, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication and training-data preparation: exact, near-duplicate,
  * substring and semantic dedup, clustering, sampling, packing, chunking,
  * redaction, decontamination and the composed cleaning flow. */
private[graft] object DedupQueries {

  /** documents plus a last-word-dropped twin of each (id + 100000): the
    * planted near-duplicate pairs of q21 and q22. */
  private def withDroppedWordTwins(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    docs.union(docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), " [^ ]*$", "").as("text")))
  }

  /** The winnow-fingerprint pair graph of q25, q26 and q26b. Their oracles
    * are generated with the same k, w and minShared. */
  private def winnowPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintNearDups(t(s, dir, "documents"), "doc_id", "text",
      k = 24, w = 12, minShared = 2)

  /** The planted-span corpus of q36: the synthetic corpus has no
    * natural cross-doc 15-grams, so docs with doc_id % 10 == 3 get the first
    * document's leading 25 words appended — known duplicated spans the
    * operator must find and clip (including from the source document's own
    * head). */
  private def plantedSpanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val snippet = docs.orderBy("doc_id").limit(1)
      .select(array_join(
        slice(filter(split(col("text"), " "), w => length(w) > 0), 1, 25), " ").as("__sn"))
    docs.crossJoin(broadcast(snippet))
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(" "), col("__sn")))
          .otherwise(col("text")).as("text"))
  }

  val all: Seq[Query] = Seq(
    Query("q20_dedup_exact",
      "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text") { (s, dir) =>
      // the byte-exact path is the oracle-comparable reference; production
      // callers use exact128 (q46's path)
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    },
    Query("q21_dedup_minhash",
      graft.oracle.SketchSql.minhashNearDupsOracle(shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)) { (s, dir) =>
      Dedup.minhashNearDups(withDroppedWordTwins(s, dir), "doc_id", "text", threshold = 0.8)
        .select("a", "b").orderBy("a", "b")
    },
    Query("q22_simhash_pairs",
      graft.oracle.SketchSql.simhashNearDupsOracle(maxHamming = 3)) { (s, dir) =>
      Dedup.simhashNearDups(withDroppedWordTwins(s, dir), "doc_id", "text", maxHamming = 3)
        .select("a", "b").orderBy("a", "b")
    },
    Query("q23_ngram_jaccard",
      """WITH pairs AS (
        |  SELECT doc_id AS a, text AS ta, regexp_replace(text, ' [^ ]*$', '') AS tb
        |  FROM documents
        |), sh AS (
        |  SELECT a,
        |    list_distinct(list_transform(range(1, len(string_split(ta,' ')) - 1),
        |      i -> array_to_string(string_split(ta,' ')[i:i+2], ' '))) AS sa,
        |    list_distinct(list_transform(range(1, len(string_split(tb,' ')) - 1),
        |      i -> array_to_string(string_split(tb,' ')[i:i+2], ' '))) AS sb
        |  FROM pairs)
        |SELECT a, CAST(len(list_intersect(sa, sb)) AS BIGINT) AS inter,
        |  CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS BIGINT) AS uni
        |FROM sh""".stripMargin) { (s, dir) =>
      // exact word-3-gram Jaccard between each doc and its last-word-dropped twin
      // (integer intersection/union sizes — oracle-reproducible, no float compare)
      val d = t(s, dir, "documents")
        .select(col("doc_id").as("a"), col("text").as("ta"),
          regexp_replace(col("text"), " [^ ]*$", "").as("tb"))
        .withColumn("sa", array_distinct(Dedup.shingles(col("ta"), 3)))
        .withColumn("sb", array_distinct(Dedup.shingles(col("tb"), 3)))
      d.select(
        col("a"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb"))))
          .cast("long").as("uni"))
    },
    Query("q24_dedup_norm",
      "SELECT min(doc_id) AS doc_id, lower(text) AS norm FROM documents GROUP BY lower(text)") { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(lower(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "norm")
    },
    Query("q25_fingerprint_pairs",
      graft.oracle.SketchSql.winnowPairsOracle(k = 24, w = 12, minShared = 2)) { (s, dir) =>
      // substring-overlap candidates: winnowing fingerprint sets (MOSS-style)
      // joined on shared selected k-gram minima — catches copied paragraphs
      // between otherwise-different documents (MinHash q21 only sees
      // whole-document resemblance). Uncapped here for exact oracle
      // semantics; production sets maxBucket (hot fingerprints are
      // boilerplate by definition).
      winnowPairs(s, dir)
    },
    Query("q26_dedup_clusters",
      graft.oracle.SketchSql.winnowComponentsOracle(k = 24, w = 12, minShared = 2)) { (s, dir) =>
      // candidate pairs → dedup clusters: min-label propagation over the q25
      // winnow-pair graph; component = min reachable id, so id == component
      // elects the deterministic survivor. Oracle = exact recursive
      // transitive closure in DuckDB over the same (mirrored) pair graph.
      Dedup.connectedComponents(winnowPairs(s, dir), "id_a", "id_b")
    },
    Query("q26b_dedup_clusters_dist",
      graft.oracle.SketchSql.winnowComponentsOracle(k = 24, w = 12, minShared = 2)) { (s, dir) =>
      // same clusters, DISTRIBUTED path forced (driverEdgeLimit = 0): the
      // large-star/small-star contraction itself is gated against the exact
      // recursive closure, not just unit-tested against union-find.
      Dedup.connectedComponents(winnowPairs(s, dir), "id_a", "id_b", driverEdgeLimit = 0)
    },
    Query("q27_stratified_sample", {
      val rank = graft.oracle.SketchSql.toSigned(
        graft.oracle.SketchSql.mix64("doc_id::UBIGINT"))
      s"""SELECT doc_id, stratum FROM (
         |  SELECT doc_id, doc_id % 50 AS stratum,
         |    row_number() OVER (PARTITION BY doc_id % 50 ORDER BY $rank, doc_id) AS rn
         |  FROM documents) t WHERE rn <= 3""".stripMargin
    }) { (s, dir) =>
      // mixture-weighting primitive: keep the n lowest-mix64(id) docs per
      // stratum — deterministic, seed-free "random" sampling whose rank key
      // is the same splitmix64 finalizer the sketch kernels use (and the
      // oracle mirrors). Strata here are the conv grouping (doc_id % 50).
      graft.ops.Sampling.stratifiedSample(
        t(s, dir, "documents").withColumn("stratum", pmod(col("doc_id"), lit(50))),
        "doc_id", "stratum", n = 3)
        .select("doc_id", "stratum")
    },
    Query("q28_pack_sequences", {
      val toks = graft.oracle.SketchSql.bpeishToksExpr("d.text")
      s"""WITH RECURSIVE src AS (
         |  SELECT doc_id % 50 AS conv, doc_id, CAST($toks AS BIGINT) AS tokens,
         |    row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) AS rn
         |  FROM documents d),
         |pack(conv, doc_id, tokens, rn, acc, seq_idx) AS (
         |  SELECT conv, doc_id, tokens, rn, tokens, CAST(0 AS BIGINT) FROM src WHERE rn = 1
         |  UNION ALL
         |  SELECT s.conv, s.doc_id, s.tokens, s.rn,
         |    CASE WHEN p.acc > 0 AND p.acc + s.tokens > 500 THEN s.tokens ELSE p.acc + s.tokens END,
         |    CASE WHEN p.acc > 0 AND p.acc + s.tokens > 500 THEN p.seq_idx + 1 ELSE p.seq_idx END
         |  FROM pack p JOIN src s ON s.conv = p.conv AND s.rn = p.rn + 1)
         |SELECT conv, doc_id, tokens, seq_idx FROM pack""".stripMargin
    }) { (s, dir) =>
      // sequence packing: per conv, docs (ordered by id) greedily fill
      // 500-token sequences using the mirrored BPE-ish token estimate; the
      // oracle replays the same greedy scan as a recursive CTE.
      graft.ops.Sampling.packSequences(
        t(s, dir, "documents").select(
          pmod(col("doc_id"), lit(50)).as("conv"),
          col("doc_id"),
          TextStats.bpeishTokenCount(col("text")).as("tokens")),
        "conv", "doc_id", "tokens", budget = 500L)
    },
    Query("q36_substring_dedup",
      graft.oracle.SketchSql.substringDedupOracle(l = 15, minDocs = 2, snip = 25)) { (s, dir) =>
      // exact substring-level dedup (Lee et al. 2022 ExactSubstr over word
      // grams) on the planted-span corpus. The oracle replays gram-flagging,
      // span merge and the clip positionally in DuckDB.
      Dedup.substringDedup(plantedSpanCorpus(s, dir), "doc_id", "text", l = 15, minDocs = 2)
    },
    Query("q37_semantic_dedup", {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH RECURSIVE un AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT)) AS embedding
         |  FROM embeddings WHERE vec_id < 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM un),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e),
         |prs AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.vec_id < r.vec_id
         |  WHERE list_dot_product(l.v, l.v) > 0 AND list_dot_product(r.v, r.v) > 0
         |    AND list_dot_product(l.v, r.v) /
         |        (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) >= 0.999),
         |ce AS (SELECT a AS u, b AS v FROM prs UNION SELECT b, a FROM prs),
         |reach(id, r) AS (
         |  SELECT u, u FROM ce
         |  UNION
         |  SELECT t.id, c2.v FROM reach t JOIN ce c2 ON t.r = c2.u),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT s.vec_id, coalesce(c.component, s.vec_id) AS cluster,
         |  CAST(CASE WHEN coalesce(c.component, s.vec_id) = s.vec_id THEN 1 ELSE 0 END AS BIGINT) AS survivor
         |FROM (SELECT vec_id FROM un) s LEFT JOIN comp c ON s.vec_id = c.id""".stripMargin
    }) { (s, dir) =>
      // SemDeDup composition: capped cosine near-dup pairs → connected
      // components → min-id survivor election. Same scaled-twin fixture as
      // q32 (cosine exactly 1), so every twin pair forms a 2-node cluster
      // whose original is the survivor; untouched embeddings are singleton
      // survivors. Oracle = the q32 pair mirror + exact recursive closure.
      Dedup.semanticClusters(SimilarityQueries.withScaledTwins(s, dir), "vec_id", "embedding",
        threshold = 0.999, bits = 6)
    },
    Query("q44_chunking",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(range(0, ((len(ws)-1)//24)+1),
        |        i -> {'i': i, 't': array_to_string(ws[i*24+1 : i*24+32], ' ')})) AS u
        |      FROM w)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx, u.t AS chunk_text FROM c""".stripMargin) { (s, dir) =>
      graft.ops.Chunking.chunkWords(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
        size = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk_text"))
    },
    Query("q45_redact",
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     text || ' contact user' || doc_id || '@example.com or +1 (415) 555-01' || (doc_id % 90 + 10),
        |     '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.ops.Chunking.redactPii(
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1 (415) 555-01"), pmod(col("doc_id"), lit(90)) + 10))
          .as("redacted"))
    },
    Query("q46_clean_pipeline",
      """WITH dedup AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |flt AS (
        |  SELECT doc_id, text FROM dedup
        |  WHERE (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 4
        |              WHEN length(text) BETWEEN 20 AND 50000 THEN 2 ELSE 0 END)
        |      + (CASE WHEN 20 * len(list_filter(string_split(lower(text), ' '),
        |            w -> list_contains(['the','of','and','a','to','in','is','for','on','with'], w)))
        |           > (CASE WHEN length(text) = 0 THEN 0
        |                   ELSE length(text) - length(replace(text, ' ', '')) + 1 END)
        |         THEN 3 ELSE 0 END)
        |      + (CASE WHEN 5 * (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) < length(text)
        |         THEN 3 ELSE 0 END) >= 7
        |),
        |lang AS (
        |  SELECT doc_id, text,
        |    [
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['der','die','und','das','ist','nicht','mit','ein','ich','auf'], w))), 'lang': 'de'},
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['the','and','of','to','in','is','that','it','was','for'], w))), 'lang': 'en'},
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['el','la','los','del','las','por','con','una','para','es'], w))), 'lang': 'es'},
        |     {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['le','la','et','les','des','est','pas','une','dans','que'], w))), 'lang': 'fr'},
        |     {'score': (CASE WHEN contains(text,'的') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'是') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'不') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'了') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'在') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'人') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'有') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'我') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'他') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'这') THEN 1 ELSE 0 END), 'lang': 'zh'}
        |    ] AS scores
        |  FROM flt),
        |en AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS text
        |  FROM lang
        |  WHERE (list_sort(scores)[5]).score > 0 AND (list_sort(scores)[5]).lang = 'en'),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM en),
        |c AS (SELECT doc_id, unnest(list_transform(range(0, ((len(ws)-1)//24)+1),
        |        i -> {'i': i, 't': array_to_string(ws[i*24+1 : i*24+32], ' ')})) AS u
        |      FROM w)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx, u.t AS chunk_text FROM c""".stripMargin) { (s, dir) =>
      // the composed training-data cleaning flow: exact dedup -> quality gate
      // -> language filter -> PII redaction -> token-window chunking.
      // Dedup is the 128-bit hash-first path (Dedup.exact128): winner election
      // shuffles only (hash128, id) — 24-byte rows instead of full documents —
      // and the text rides a single id-keyed semi-join afterwards. The 128-bit
      // key (two independently-seeded xxhash64 variants) makes silent
      // collision merges ~10^-15 at 10^12 rows, so the byte-exact oracle holds.
      // NOTE (r7): fanning the scan out before the dedup semi-join was tried
      // (the BHJ probe side inherits the scan's 1-partition layout) and
      // measured ~0.35 s SLOWER across two full bench runs — the added
      // exchange outweighs parallelizing a kernel chain that, after the
      // byte-scan kernel swaps, costs ~0.1 s single-core here. At cluster
      // scale the scan is already wide. Kept as the plain scan.
      val docs = t(s, dir, "documents")
      val deduped = graft.ops.Dedup.exact128(docs, "doc_id", "text")
        .select(col("text"), col("doc_id"))
      val cleaned = deduped
        .filter(TextStats.qualityX10(col("text")) >= 7)
        .filter(TextStats.langId(col("text")) === "en")
        .select(col("doc_id"), graft.ops.Chunking.redactPii(col("text")).as("text"))
      graft.ops.Chunking.chunkWords(cleaned, "doc_id", "text", size = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk_text"))
    },
    Query("q47_decontaminate",
      graft.oracle.SketchSql.decontaminateOracle(shingleK = 8, benchMod = 97)) { (s, dir) =>
      // train/test hygiene: flag corpus docs sharing any word-8-gram with a
      // deterministic "benchmark" subset (doc_id % 97 == 0). The synthetic
      // corpus has no natural cross-doc 8-grams, so docs with doc_id % 10 == 3
      // get the first benchmark doc's leading 8 words appended — a known
      // contamination set the oracle reproduces (the same make-your-own-
      // positives pattern as q21's dropped-word twins). Benchmark shingles
      // broadcast; the corpus never shuffles.
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val snippet = bench.orderBy("doc_id").limit(1)
        .select(array_join(
          slice(filter(split(col("text"), " "), w => length(w) > 0), 1, 8), " ").as("__sn"))
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
        .crossJoin(broadcast(snippet))
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" "), col("__sn")))
            .otherwise(col("text")).as("text"))
      graft.ops.Dedup.decontaminate(corpus, bench, "doc_id", "text", shingleK = 8)
    },
    Query("q48_repetition",
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg),
        |m AS (SELECT doc_id, max(cnt) AS mx, sum(cnt) AS total FROM c GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(CAST(m.mx AS DOUBLE) / m.total, 0.0) AS top_bigram_share
        |FROM w LEFT JOIN m USING (doc_id)""".stripMargin) { (s, dir) =>
      // Gopher-style repetition quality signal: share of all word bigrams
      // taken by the most frequent one, as a native single-pass kernel
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextHashes.top_bigram_share(col("text")).as("top_bigram_share"))
    }
  )
}
