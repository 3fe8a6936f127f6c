package graft

import graft.ops.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-composition operators: hash-ordered stratified sampling and greedy
  * sequence packing. */
class SamplingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("stratifiedSample: exactly n per stratum, deterministic, nested by n") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, i % 4)).toDF("id", "stratum")
    val s3 = Sampling.stratifiedSample(df, "id", "stratum", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s3.length == 12)
    assert(s3.groupBy(_._2).forall(_._2.length == 3))
    val s3again = Sampling.stratifiedSample(df, "id", "stratum", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s3.sorted.toSeq == s3again.sorted.toSeq)
    // hash-rank ordering makes smaller samples prefixes of larger ones
    val s2 = Sampling.stratifiedSample(df, "id", "stratum", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s2.subsetOf(s3.toSet))
  }

  test("stratifiedSample: map-side top-n pre-filter is in the plan and exact") {
    import spark.implicits._
    // many partitions, strata ≫ n — the pre-filter regime
    val df = spark.range(0, 5000, 1, numPartitions = 17)
      .select(col("id"), pmod(col("id"), lit(7)).as("stratum"))
    val got = Sampling.stratifiedSample(df, "id", "stratum", 4)
    // the exchange input is the MapPartitions pre-filter, not the raw scan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan.take(800))
    // exact equality with the n-smallest-(mix64,id)-per-stratum definition
    val keys = df.withColumn("rk", graft.functions.TextHashes.mix64_col(col("id")))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
    val expect = keys.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (r._2, r._3)).take(4).map(r => (r._3, r._1)).toSeq
    }.toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    assert(expect.size == 28)
  }

  test("stratifiedSample: n=0 is empty and null ids survive the pre-filter (r7 ADVICE)") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, i % 4)).toDF("id", "stratum")
    // n = 0: empty result, same schema, no exception from the bounded heap
    val empty = Sampling.stratifiedSample(df, "id", "stratum", 0)
    assert(empty.count() == 0L)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "stratum"))
    // null ids rank FIRST (window: __rk null, NULLS FIRST) — the pre-filter
    // must keep them deterministically, matching the window-only plan
    val withNulls = df.select(
      when(col("id") < 2, lit(null).cast("long")).otherwise(col("id")).as("id"),
      col("stratum"))
    val got = Sampling.stratifiedSample(withNulls, "id", "stratum", 3)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
    // window-only reference: rank by (mix64 null first, id null first)
    val ref = withNulls
      .withColumn("__rk", graft.functions.TextHashes.mix64_col(col("id")))
      .collect().map { r =>
        val id: java.lang.Long = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
        val rk: java.lang.Long = if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))
        (id, r.getLong(1), rk)
      }
      .groupBy(_._2).valuesIterator.flatMap { rows =>
        rows.sortBy { r =>
          (r._3 != null, if (r._3 == null) 0L else r._3.longValue,
            r._1 != null, if (r._1 == null) 0L else r._1.longValue)
        }.take(3).map(r => (if (r._1 == null) -1L else r._1.longValue, r._2)).toSeq
      }.toSet
    assert(got.toSet == ref, s"got=${got.toSet} ref=$ref")
    // both null-id rows (strata 0 and 1) must be present
    assert(got.count(_._1 == -1L) == 2)
  }

  test("packSequences: greedy fill, oversized doc gets its own sequence") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 200L), (1L, 11L, 200L), (1L, 12L, 200L), (1L, 13L, 600L), (1L, 14L, 100L),
      (2L, 20L, 500L), (2L, 21L, 1L)
    ).toDF("conv", "doc_id", "tokens")
    val out = Sampling.packSequences(df, "conv", "doc_id", "tokens", budget = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(out == Map(
      (1L, 10L) -> 0L, (1L, 11L) -> 0L, // 400 fits
      (1L, 12L) -> 1L, // 600 would overflow
      (1L, 13L) -> 2L, // oversized: own sequence
      (1L, 14L) -> 3L, // 600+100 overflows
      (2L, 20L) -> 0L, (2L, 21L) -> 1L)) // exactly-full then next
  }

  test("oov kernels: word count and hashed-vocab membership") {
    import graft.functions.TextScan
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    assert(TextScan.wordCount(u("")) == 0)
    assert(TextScan.wordCount(u("  a  bb   c ")) == 3)
    val vocab = new java.util.HashSet[java.lang.String]()
    Seq("the", "fox").foreach(vocab.add)
    assert(TextScan.tokenInVocab(u("the quick fox the"), vocab) == 3)
    assert(TextScan.tokenInVocab(u(""), vocab) == 0)
    // through columns: oov = total - known
    import spark.implicits._
    import graft.ops.TextStats
    val df = Seq((1L, "The quick fox"), (2L, "zz yy")).toDF("id", "text")
    val (total, oov) = TextStats.oovCounts(col("text"), Array("the", "fox"))
    val rows = df.select(col("id"), total.as("t"), oov.as("o"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(rows == Map(1L -> ((3, 1)), 2L -> ((2, 2)))) // "quick" is the only OOV in doc 1
  }

  test("packSequences: never splits a group across partitions; budget respected") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (0 until 300).map(i => (i.toLong % 7, i.toLong, (rnd.nextInt(200) + 1).toLong))
      .toDF("conv", "doc_id", "tokens")
    val out = Sampling.packSequences(df, "conv", "doc_id", "tokens", budget = 500L)
    val sums = out.groupBy("conv", "seq_idx").agg(sum("tokens").as("s"), count(lit(1)).as("n"))
      .collect()
    // every multi-doc sequence stays within budget (only singletons may exceed)
    sums.foreach { r =>
      assert(r.getLong(2) <= 500L || r.getLong(3) == 1L, r.toString)
    }
    assert(out.count() == 300)
  }
}
