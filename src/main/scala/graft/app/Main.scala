package graft.app

import graft.spark.{BucketTally, Manifest, Pipeline}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint for the production extraction job.
  *
  * Usage:
  *   spark-submit --class graft.app.Main <jar> \
  *     --input <transcript table path> --output <extracted table path> \
  *     --manifest <manifest path> [--partitions N] [--mode full|resume] \
  *     [--snapshot ID] [--buckets N]
  *
  * Any other flag, a flag without a value, an unknown mode or a non-positive
  * count is rejected with an IllegalArgumentException before the job starts.
  *
  * One write pass per job: each turn gets its bucket (xxhash64(conv_id) mod
  * buckets) once, before the exchange; `Pipeline.extractSorted` ranges on
  * (bucket, conv_id, turn_idx), extracts, and sorts each partition on the
  * same key, which is the ordering the bucketed write needs, so the write
  * adds no Sort and every file is in (conv_id, turn_idx) order. Each task
  * owns a contiguous run of buckets, so a job writes at most
  * partitions + buckets − 1 files. The manifest's per-bucket rows and chars
  * are observed during that write (`Dataset.observe` with a `graft.spark.BucketTally`);
  * the output is never read back.
  *
  * Resume semantics: completed buckets (manifest status=done for the same
  * snapshot) are filtered away before the exchange, so reruns only process
  * pending data, and the output write is idempotent per (conv_id, turn_idx) —
  * MERGE INTO in the Iceberg deployment, partition overwrite here.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, args)
    finally spark.stop()
  }

  private val Flags =
    Set("--input", "--output", "--manifest", "--mode", "--partitions", "--snapshot", "--buckets")

  /** Flag → value pairs, validated (see the object doc). */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
    val opts = args.grouped(2).map {
      case Array(k, _*) if !Flags(k) => bad(s"unknown argument: $k")
      case Array(k, v) if !Flags(v) => k -> v
      case Array(k, _*) => bad(s"$k needs a value")
    }.toMap
    Seq("--input", "--output").filterNot(opts.contains).foreach(k => bad(s"missing $k"))
    opts.get("--mode").filterNot(Set("full", "resume")).foreach(m =>
      bad(s"--mode must be full or resume, got $m"))
    Seq("--buckets", "--partitions").foreach(k => opts.get(k).foreach(v =>
      if (!v.toIntOption.exists(_ > 0)) bad(s"$k must be a positive integer, got $v")))
    opts
  }

  /** Session-agnostic job body (tests drive it with their own session). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts("--input")
    val output = opts("--output")
    val manifestPath = opts.getOrElse("--manifest", s"$output.manifest")
    val mode = opts.getOrElse("--mode", "full")
    val partitions = opts.get("--partitions").map(_.toInt)

    val snapshotId = opts.getOrElse("--snapshot", "latest")
    val buckets = opts.get("--buckets").map(_.toInt).getOrElse(64)

    val done: Set[String] =
      if (mode == "resume") Manifest.read(spark, manifestPath)
        .filter(col("status") === "done" && col("snapshot_id") === snapshotId)
        .select("part").collect().map(_.getString(0)).toSet
      else Set.empty
    val pending = (0 until buckets).filterNot(b => done(b.toString))

    import spark.implicits._
    if (pending.nonEmpty) {
      // ONE pass over the input: all pending buckets extracted together and
      // split at write time via partitionBy — a per-bucket filter loop would
      // rescan the full table O(buckets) times (xxhash64(conv_id) pmod can't be
      // pushed down or pruned). Dynamic partition overwrite keeps the write
      // idempotent per bucket (Iceberg deployment: MERGE INTO keyed on
      // (conv_id, turn_idx)). The bucket is computed once, here, and leads
      // the extraction's range and sort key (see Pipeline).
      val all = Pipeline.readTurns(spark, input)
        .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(buckets)).cast("int"))
      val turns = if (pending.length == buckets) all else all.filter(col("bucket").isin(pending: _*))
      // per-bucket rows and characters (code points, as Spark's `length`
      // counts them), observed in the write's own result stage
      val tally = Observation()
      val extracted = Pipeline.extractSorted(turns, partitions, lead = Seq("bucket"))
        .observe(tally, udaf(new BucketTally(buckets)).apply(
          col("bucket"), coalesce(length(col("extracted_text")), lit(0))).as("tally"))
      val outPath = new org.apache.hadoop.fs.Path(output)
      val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Write discipline per mode:
      //  - full: plain (static) overwrite replaces the whole dataset, which
      //    also clears any stale partitions (the Iceberg deployment does an
      //    atomic snapshot replace; vanilla Spark overwrite carries the
      //    standard replace window). Crucially there is NO pre-delete pass
      //    here: in full mode completed buckets DO have durable manifest
      //    entries, so deleting them up front would open an unrecoverable
      //    window — a crash mid-extraction would leave the data gone while
      //    resume considers every bucket done.
      //  - resume: dynamic overwrite only replaces partitions present in the
      //    new data, so a pending bucket whose extraction now yields zero
      //    rows would keep its stale files. Pending buckets carry no manifest
      //    entry by definition, so pre-clearing exactly those is crash-safe:
      //    a rerun re-extracts them.
      if (mode == "resume" && fs.exists(outPath)) pending.foreach { b =>
        val p = new org.apache.hadoop.fs.Path(outPath, s"bucket=$b")
        if (fs.exists(p)) fs.delete(p, true)
      }
      // a write option, which the parquet write reads before the session
      // conf, so the session's own setting is left as it was
      extracted.write.mode("overwrite")
        .option("partitionOverwriteMode", if (mode == "resume") "dynamic" else "static")
        .partitionBy("bucket").parquet(output)
      val counts = tally.get("tally").asInstanceOf[scala.collection.Seq[Long]]
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      // every pending bucket gets a 'done' row — zero-yield buckets included,
      // else they are re-extracted on every subsequent resume
      Manifest.append(
        pending.sortBy(_.toString).map { b =>
          (b.toString, snapshotId, counts(b), counts(buckets + b), "done", ts)
        }.toDF("part", "snapshot_id", "rows", "chars", "status", "run_ts"),
        manifestPath)
    }
  }
}
