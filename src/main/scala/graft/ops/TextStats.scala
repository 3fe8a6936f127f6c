package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting. All are
  * built-in column expressions (codegen'd); semantics chosen to be exactly
  * reproducible in ANSI SQL so the DuckDB oracle can verify them.
  */
object TextStats {

  /** Whitespace token count — split(" ") token count (0 for empty text), the
    * same value as `length - length(remove spaces) + 1` (string-exact and
    * oracle-reproducible, unlike regex splits across engines). r7: a native
    * byte-scan kernel — the regexp_replace formulation built a Matcher and a
    * full stripped copy of every document just to count spaces. */
  def wsTokenCount(textCol: Column): Column =
    graft.functions.TextHashes.ws_token_count(textCol)

  /** BPE-ish token estimate: words + punctuation marks counted separately, long
    * words surcharged ~1 token per 4 chars beyond 4 (the usual subword scaling).
    * The per-word sum runs as a native codegen'd kernel — the former
    * aggregate() over split words was CodegenFallback-interpreted per row. */
  def bpeishTokenCount(textCol: Column): Column = {
    val punct = length(regexp_replace(textCol, "[\\p{L}\\p{N}\\s]", ""))
    (graft.functions.TextHashes.bpeish_word_tokens(textCol) + punct.cast("long"))
      .as("bpeish_tokens")
  }

  /** Java \p{Punct} code-point count — same value as
    * `length - length(regexp_replace(text, "[\\p{Punct}]", ""))`; r7 byte-scan
    * kernel (the class is pure ASCII, so bytes are exact). */
  def punctCount(textCol: Column): Column =
    graft.functions.TextHashes.punct_count(textCol)

  /** The ten-word stopword list of q40, q41 and q46 (their oracles spell the
    * same list). */
  private val Stopwords = Seq("the", "of", "and", "a", "to", "in", "is", "for", "on", "with")

  /** Stopword tokens of `text` (lower-cased, split on single spaces). */
  def stopCount(text: Column): Column =
    graft.functions.TextHashes.token_set_count(lower(text), Stopwords)

  /** The quality score ×10 (an int column in [0, 10]): 4 for a length in
    * [50, 10000] (2 in [20, 50000]), 3 when stopwords are more than 5 % of the
    * tokens, 3 when punctuation is under 20 % of the characters (heuristics
    * from public web-corpus filtering pipelines — C4/Gopher-style rules). */
  def qualityX10(text: Column): Column = {
    val len = length(text)
    when(len.between(50, 10000), lit(4)).when(len.between(20, 50000), lit(2)).otherwise(lit(0)) +
      when(stopCount(text) * 20 > wsTokenCount(text), lit(3)).otherwise(lit(0)) +
      when(punctCount(text) * 5 < len, lit(3)).otherwise(lit(0))
  }

  /** Language-ID heuristic: score per language = fraction of that language's
    * top-stopword set present in the text; argmax wins, "und" when no evidence.
    * N-gram-profile LID in the closed-vocabulary spirit of public n-gram LID
    * (Cavnar-Trenkle); deterministic and cheap — one pass per language profile. */
  private val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que"),
    "es" -> Seq("el", "la", "los", "del", "las", "por", "con", "una", "para", "es"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  def langId(textCol: Column): Column = {
    val scores = langProfiles.toSeq.sortBy(_._1).map { case (lang, profile) =>
      // space-delimited scripts score by stopword tokens; CJK has no word
      // boundaries, so single-char profiles score by containment instead
      val score =
        if (profile.forall(_.length == 1))
          profile.map(ch => when(contains(textCol, lit(ch)), 1).otherwise(0))
            .reduce((a, b) => a + b)
        else graft.functions.TextHashes.token_set_count(
          lower(textCol), profile, byLetters = true)
      struct(score.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 64-bit polynomial rolling-hash fingerprints over a sliding char window
    * (Karp-Rabin winnowing): the minimum window hash per document — a compact
    * near-dup/document-identity signature computable in one codegen'd pass. */
  def fingerprint(textCol: Column, window: Int = 16): Column =
    graft.functions.TextHashes.winnow_fingerprint(textCol, window)

  /** Top-`v` corpus vocabulary by (frequency desc, word asc) — the reference
    * lexicon for OOV-rate quality scoring (CCNet-style: documents whose
    * tokens fall outside the corpus's own high-frequency vocabulary are
    * noise candidates). One aggregation pass; the vocabulary is
    * driver-bounded (v entries) and rides into the scoring kernel as a
    * hashed reference object, never a join. */
  def topVocab(df: org.apache.spark.sql.DataFrame, textCol: String, v: Int): Array[String] =
    df.select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(v)
      .collect().map(_.getString(0))

  /** (total nonempty tokens, tokens outside `vocab`) per document — both as
    * single-pass codegen'd kernels with O(1) vocabulary membership. */
  def oovCounts(textCol: Column, vocab: Array[String]): (Column, Column) = {
    val total = graft.functions.TextHashes.ws_word_count(textCol)
    val known = graft.functions.TextHashes.token_in_vocab(lower(textCol), vocab.toSeq)
    (total, total - known)
  }
}
