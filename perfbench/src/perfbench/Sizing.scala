package perfbench

import graft.extract.Extractor
import graft.spark.Pipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Path, Paths}
import scala.collection.immutable.ListMap

/** Where the time of one `graft.app.Main.run` goes, by timing compositions
  * of the program's public calls on the same chat table, each ending in the
  * no-op sink: scan; scan + extract; scan + range exchange + sort; the full
  * `Pipeline.extractTurns`; the whole job (adds the bucketed parquet write,
  * metrics re-read and manifest). Also the whole job on a slice of 1/20 of
  * the turns, which splits the job into a fixed cost and a per-turn cost;
  * the whole job at local[1]; and the single-threaded `Extractor.extract`
  * over the same payloads. Each step
  * runs `Reps` times after one warm-up; medians are reported. */
object Sizing {
  import Main.median

  private val Reps = 3

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(reps: Int)(f: => Unit): Double = {
    f
    median((0 until reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })
  }

  private def steps(spark: SparkSession, dir: Path): ListMap[String, Double] = {
    import spark.implicits._
    val in = dir.resolve("input").toString
    val n = Main.nproc
    def turns = Pipeline.readTurns(spark, in)
    val job = new ExtractJob("sizing", dir, "full", 0L)
    val slice = new ExtractJob("sizing", dir.resolve("slice"), "full", 0L)
    ListMap(
      "scan_s" -> time(Reps)(noop(turns.toDF())),
      "scan_extract_s" -> time(Reps)(noop(turns.map(Extractor.extractTurn).toDF())),
      "range_sort_s" -> time(Reps)(noop(turns.repartitionByRange(n, col("conv_id"), col("turn_idx"))
        .sortWithinPartitions(col("conv_id"), col("turn_idx")).toDF())),
      "extract_turns_s" -> time(Reps)(noop(Pipeline.extractTurns(turns, Some(n)).toDF())),
      "main_run_s" -> time(Reps) { job.reset(spark); job.run(spark, new Tracer) },
      "main_run_slice_s" -> time(Reps) { slice.reset(spark); slice.run(spark, new Tracer) })
  }

  def run(o: Main.Opts): Unit = {
    val work = Paths.get(o("work"))
    val dir = work.resolve("data")
    val spark = Main.session(Main.nproc, work)
    val rows = spark.read.parquet(dir.resolve("input").toString).count()
    val payloads = spark.read.parquet(dir.resolve("input").toString).select("text").collect().map(_.getString(0))
    spark.read.parquet(dir.resolve("input").toString).filter(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(20)) === 0)
      .write.parquet(dir.resolve("slice/input").toString)
    val sliceRows = spark.read.parquet(dir.resolve("slice/input").toString).count()
    val atN = try steps(spark, dir) finally spark.stop()
    val one = Main.session(1, work)
    val at1 = try {
      val job = new ExtractJob("sizing", dir, "full", 0L)
      time(1) { job.reset(one); job.run(one, new Tracer) }
    } finally one.stop()
    val kernel = time(Reps) { payloads.foreach(p => Kernels.sink += Extractor.extract(p).text.length) }
    // t = fixed + per_turn * turns, from the whole table and the slice
    val perTurn = (atN("main_run_s") - atN("main_run_slice_s")) / (rows - sliceRows)
    val fixed = atN("main_run_s") - perTurn * rows
    val result = ListMap(
      "host" -> Host.fingerprint(o("seed").toLong),
      "turns" -> rows,
      s"local_${Main.nproc}" -> atN,
      "main_run_local_1_s" -> at1,
      "slice_turns" -> sliceRows,
      "main_run_fixed_s" -> fixed,
      "main_run_fixed_share" -> fixed / atN("main_run_s"),
      "main_run_turns_per_s" -> rows / atN("main_run_s"),
      "main_run_turns_per_s_local_1" -> rows / at1,
      "scaling_eff_1_to_n" -> (rows / atN("main_run_s")) / (Main.nproc * rows / at1),
      "extract_single_thread_turns_per_s" -> rows / kernel)
    println(Json(result))
  }
}
