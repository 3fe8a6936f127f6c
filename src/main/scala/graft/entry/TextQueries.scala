package graft.entry

import graft.entry.Inputs.t
import graft.ops.TextStats
import org.apache.spark.sql.functions._

/** Per-document text analysis: token and stopword counts, the quality
  * score, language guess, OOV rate and fingerprints. */
private[graft] object TextQueries {

  val all: Seq[Query] = Seq(
    Query("q29_oov_rate",
      """WITH wd AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS w
        |  FROM documents),
        |vocab AS (SELECT w FROM wd GROUP BY w ORDER BY count(*) DESC, w LIMIT 256),
        |cnt AS (SELECT doc_id, count(*) AS total,
        |        sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS known
        |        FROM wd GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(c.total, 0) AS BIGINT) AS total_tokens,
        |  CAST(coalesce(c.total - c.known, 0) AS BIGINT) AS oov_tokens
        |FROM documents d LEFT JOIN cnt c USING (doc_id)""".stripMargin) { (s, dir) =>
      // CCNet-style lexicon coverage: per-doc token count outside the
      // corpus's own top-256 vocabulary (frequency desc, word asc — the
      // deterministic tie-break is mirrored in the oracle). The vocab is one
      // bounded aggregation + driver collect; scoring is two single-pass
      // codegen'd kernels with a hashed vocabulary reference — no join.
      val docs = t(s, dir, "documents")
      val vocab = TextStats.topVocab(docs, "text", v = 256)
      val (total, oov) = TextStats.oovCounts(col("text"), vocab)
      // coalesce mirrors the oracle's LEFT JOIN + coalesce: a NULL text row
      // must score (0, 0), not (NULL, NULL) from the null-safe kernels
      docs.select(col("doc_id"),
        coalesce(total.cast("long"), lit(0L)).as("total_tokens"),
        coalesce(oov.cast("long"), lit(0L)).as("oov_tokens"))
    },
    Query("q40_textstats",
      """SELECT doc_id, length(text) AS n_chars,
        | CASE WHEN length(text) = 0 THEN 0
        |      ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS ws_tokens,
        | len(list_filter(string_split(lower(text), ' '),
        |   w -> list_contains(['the','of','and','a','to','in','is','for','on','with'], w))) AS n_stop
        |FROM documents""".stripMargin) { (s, dir) =>
      // r7: stop-count via the native token_set_count kernel — same value as
      // size(filter(split(lower(text), " "), in stop set)) (empty split
      // tokens are never stopwords), without the interpreted HOF chain
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextStats.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextStats.stopCount(col("text")).cast("long").as("n_stop"))
    },
    Query("q41_quality",
      """SELECT doc_id,
        | CAST(((CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 4
        |       WHEN length(text) BETWEEN 20 AND 50000 THEN 2 ELSE 0 END)
        | + (CASE WHEN 20 * len(list_filter(string_split(lower(text), ' '),
        |       w -> list_contains(['the','of','and','a','to','in','is','for','on','with'], w)))
        |      > (CASE WHEN length(text) = 0 THEN 0
        |              ELSE length(text) - length(replace(text, ' ', '')) + 1 END)
        |    THEN 3 ELSE 0 END)
        | + (CASE WHEN 5 * (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) < length(text)
        |    THEN 3 ELSE 0 END)) AS BIGINT) AS quality_x10
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextStats.qualityX10(col("text")).cast("long").as("quality_x10"))
    },
    Query("q42_langid",
      """WITH sc AS (
        |  SELECT doc_id, [
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['der','die','und','das','ist','nicht','mit','ein','ich','auf'], w))), 'lang': 'de'},
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['the','and','of','to','in','is','that','it','was','for'], w))), 'lang': 'en'},
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['el','la','los','del','las','por','con','una','para','es'], w))), 'lang': 'es'},
        |   {'score': len(list_filter(string_split(lower(text),' '), w -> list_contains(['le','la','et','les','des','est','pas','une','dans','que'], w))), 'lang': 'fr'},
        |   {'score': (CASE WHEN contains(text,'的') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'是') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'不') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'了') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'在') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'人') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'有') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'我') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'他') THEN 1 ELSE 0 END)+(CASE WHEN contains(text,'这') THEN 1 ELSE 0 END), 'lang': 'zh'}
        |  ] AS scores FROM documents)
        |SELECT doc_id,
        |  CASE WHEN (list_sort(scores)[5]).score > 0 THEN (list_sort(scores)[5]).lang
        |       ELSE 'und' END AS lang_guess
        |FROM sc""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TextStats.langId(col("text")).as("lang_guess"))
    },
    Query("q43_fingerprint",
      graft.oracle.SketchSql.fingerprintOracle(window = 16)) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextStats.fingerprint(col("text")).as("fingerprint"),
        TextStats.bpeishTokenCount(col("text")).as("bpeish_tokens"))
    }
  )
}
