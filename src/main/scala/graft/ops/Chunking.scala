package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document preparation for training: overlapping token-window chunking and
  * PII redaction. Declarative column expressions end to end (explode fan-out is
  * the only row multiplier; no UDF), semantics chosen to be exactly mirrorable
  * in ANSI/DuckDB SQL for the oracle.
  */
object Chunking {

  /** Split each document into word windows of `size` tokens advancing by
    * `stride` (= size - overlap). Windows start at 0, S, 2S, … while the start
    * is inside the document; the last window may be short. */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size > 0)
    // r7: one byte-scan kernel per row (chunk i = split(" ") tokens
    // [i·stride, i·stride+size) re-joined — literally a slice of the text
    // between space boundaries, emitted zero-copy). Replaces the
    // split → transform(sequence) → slice → array_join chain, all of whose
    // higher-order steps are CodegenFallback (interpreted per row). Values
    // identical: split/join on the same single-space delimiter is lossless,
    // so both formulations emit the same chunk strings and chunk_idx.
    df.select(col(idCol), posexplode(
        graft.functions.TextHashes.chunk_words(col(textCol), size, stride))
        .as(Seq("chunk_idx", "chunk_text")))
  }

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** Redact emails and phone-number shapes (C4-style PII hygiene). Patterns
    * restricted to syntax Java regex and RE2 interpret identically. */
  def redactPii(textCol: Column): Column =
    regexp_replace(
      regexp_replace(textCol, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")
}
