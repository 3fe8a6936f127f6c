package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition operators for training-data pipelines: deterministic
  * stratified down-sampling (mixture weighting) and greedy sequence packing
  * (token-budget binning). Both are exactly reproducible — no RNG state, no
  * partition-order sensitivity — so the same inputs give the same sample and
  * the same packing on any cluster size, and both are mirrored in DuckDB SQL
  * for the oracle.
  */
object Sampling {

  /** Keep the `n` lowest-`mix64(id)` rows per stratum — hash-ordered
    * "random" sampling with a deterministic, seed-free rank. This is the
    * mixture-weighting primitive: set per-stratum `n` proportional to the
    * target mixture and the sample follows it exactly.
    *
    * Scale shape (round 6): a map-side per-partition top-n pre-filter (the
    * standard top-k-per-group optimization) runs BEFORE the stratum-key
    * shuffle — each input partition forwards at most `n` rows per stratum
    * it sees, so the exchange volume is bounded by
    * `partitions × strata × n` instead of the corpus size; for strata far
    * larger than `n` (the mixture-weighting regime) that is the difference
    * between shuffling everything and shuffling the sample. The window rank
    * then runs exactly as before over the surviving superset — any row in
    * the global top-n of its stratum is in the top-n of its partition under
    * the same (mix64, id) total order, so results are identical. The
    * pre-filter needs a partition-local id ordering that matches the
    * window's (strings compare by UTF-8 bytes, like UTF8String); id types
    * outside the supported set skip the pre-filter and keep the plain
    * window plan. Per-partition state: distinct-strata-in-partition × n
    * buffered rows. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String, n: Int): DataFrame = {
    // n <= 0 keeps nothing: return the empty frame directly instead of running
    // the pre-filter (whose bounded heap would be empty — heap.head on it threw
    // before round 7) and the window
    if (n <= 0) return df.filter(lit(false))
    val keyed = df.withColumn("__rk", graft.functions.TextHashes.mix64_col(col(idCol)))
    val schema = keyed.schema
    val rkIdx = schema.fieldIndex("__rk")
    val idIdx = schema.fieldIndex(idCol)
    val stIdx = schema.fieldIndex(stratumCol)
    val pre = idOrdering(schema(idIdx).dataType) match {
      case Some(idOrd0) =>
        // the window's ORDER BY (__rk, id) places NULLS FIRST on both keys
        // (Spark ascending default); a null id yields a null __rk, so the
        // partition-local order must rank null keys ahead of every value or
        // null-id rows could be dropped from the pre-filter superset
        val idOrd: Ordering[Any] = new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            if (a == null && b == null) 0
            else if (a == null) -1
            else if (b == null) 1
            else idOrd0.compare(a, b)
        }
        val rowOrd: Ordering[org.apache.spark.sql.Row] = new Ordering[org.apache.spark.sql.Row] {
          def compare(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int = {
            val an = a.isNullAt(rkIdx)
            val bn = b.isNullAt(rkIdx)
            val c =
              if (an || bn) { if (an == bn) 0 else if (an) -1 else 1 }
              else java.lang.Long.compare(a.getLong(rkIdx), b.getLong(rkIdx))
            if (c != 0) c
            else idOrd.compare(
              if (a.isNullAt(idIdx)) null else a.get(idIdx),
              if (b.isNullAt(idIdx)) null else b.get(idIdx))
          }
        }
        keyed.mapPartitions { it =>
          val heaps = scala.collection.mutable.HashMap
            .empty[Any, scala.collection.mutable.PriorityQueue[org.apache.spark.sql.Row]]
          it.foreach { row =>
            val heap = heaps.getOrElseUpdate(row.get(stIdx),
              scala.collection.mutable.PriorityQueue.empty(rowOrd)) // max-heap
            if (heap.size < n) heap += row
            else if (rowOrd.compare(row, heap.head) < 0) { heap.dequeue(); heap += row }
          }
          heaps.valuesIterator.flatMap(_.iterator)
        }(org.apache.spark.sql.Encoders.row(schema))
      case None => keyed
    }
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("__rk"), col(idCol))
    pre.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn", "__rk")
  }

  /** Partition-local ordering matching Spark's sort order for the id type —
    * strings by UTF-8 bytes (UTF8String.binaryCompare), integral/floating
    * types naturally. None ⇒ the caller skips the pre-filter. */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | TimestampType | DateType =>
        Some(Ordering.by { v: Any =>
          v match {
            case l: Long => l
            case i: Int => i.toLong
            case s: Short => s.toLong
            case b: Byte => b.toLong
            case t: java.sql.Timestamp => t.getTime
            case d: java.sql.Date => d.getTime
            case _ => 0L
          }
        })
      case DoubleType | FloatType =>
        Some(Ordering.by { v: Any =>
          v match { case d: Double => d; case f: Float => f.toDouble; case _ => 0.0 }
        })
      case StringType =>
        Some(new Ordering[Any] {
          def compare(a: Any, b: Any): Int = {
            val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
            java.util.Arrays.compareUnsigned(x, y)
          }
        })
      case _ => None
    }
  }

  /** Greedy contiguous sequence packing: within each group (ordered by id),
    * documents accumulate into the current sequence until the next one would
    * exceed `budget` tokens, then a new sequence starts. A single document
    * larger than the budget gets its own sequence. Output adds `seq_idx`
    * (0-based per group).
    *
    * The scan is inherently sequential per group — the Spark shape is one
    * shuffle on the group key, then a linear pass per group inside
    * `flatMapGroups` (sorted in-memory; a group is a conversation, bounded
    * by conversation length, not corpus size). Packing across groups stays
    * embarrassingly parallel. */
  def packSequences(df: DataFrame, groupCol: String, idCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("long"), col(idCol).cast("long"),
        col(tokensCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        var acc = 0L
        var bin = 0L
        rows.iterator.map { case (_, id, tok) =>
          if (acc > 0 && acc + tok > budget) { bin += 1; acc = 0 }
          acc += tok
          (g, id, tok, bin)
        }
      }
      .toDF(groupCol, idCol, tokensCol, "seq_idx")
  }
}
