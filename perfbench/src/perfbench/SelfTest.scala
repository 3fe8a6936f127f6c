package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Tests of the correctness gate on small inputs gen.py wrote to the work
  * directory (chat-a, docs-a): a clean job passes, and a mutated row, a
  * dropped row and a lost near-duplicate pair each fail. Exits non-zero on
  * the first failure. */
object SelfTest {

  private def expect(cond: Boolean, what: String): Unit = {
    println(s"selftest: ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) sys.exit(1)
  }

  /** Rewrites the job's output with `f` applied, keeping the bucket layout. */
  private def tamper(spark: SparkSession, out: Path)(f: DataFrame => DataFrame): Unit = {
    val tmp = out.resolveSibling("out-tampered")
    Fs.rm(tmp)
    f(spark.read.parquet(out.toString)).write.partitionBy("bucket").parquet(tmp.toString)
    Fs.rm(out)
    Files.move(tmp, out)
  }

  def run(o: Main.Opts): Unit = {
    val work = Paths.get(o("work"))
    val spark = Main.session(Main.nproc, work)
    try {
      val w = Workloads("chat-mixed", work.resolve("chat-a"), 7).asInstanceOf[ExtractJob]
      w.firstJob(spark, new Tracer)
      w.prepare(spark)
      w.reset(spark); w.run(spark, new Tracer)
      val clean = w.check(spark)
      expect(clean.failed == 0 && clean.notes.isEmpty, s"clean job passes the gate ($clean)")

      val first = spark.read.parquet(w.outDir.toString).select(min("conv_id")).head().getString(0)
      // one row's text changed in place at the same length, so only the row
      // comparison can see it
      tamper(spark, w.outDir)(df => df.withColumn("extracted_text",
        when(col("conv_id") === first && col("turn_idx") === 0,
          translate(col("extracted_text"), "aeiou", "eioua")).otherwise(col("extracted_text"))))
      val mutated = w.check(spark)
      expect(mutated.failed >= 1, s"mutated row fails the gate ($mutated)")

      w.reset(spark); w.run(spark, new Tracer)
      tamper(spark, w.outDir)(df => df.filter(!(col("conv_id") === first && col("turn_idx") === 0)))
      val dropped = w.check(spark)
      expect(dropped.failed >= 1, s"dropped row fails the gate ($dropped)")

      val d = new DedupJob(work.resolve("docs-a"))
      d.prepare(spark); d.run(spark, new Tracer)
      val dc = d.check(spark)
      expect(dc.failed == 0 && dc.notes.isEmpty, s"clean dedup job passes the gate ($dc)")
      d.near = d.near.filterNot(_ == d.nearPairs.head)
      expect(d.check(spark).failed >= 1, "a lost near-duplicate pair fails the gate")
    } finally spark.stop()
    println("selftest: all passed")
  }
}
