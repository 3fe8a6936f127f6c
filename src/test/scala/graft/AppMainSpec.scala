package graft

import graft.core.Turn
import graft.spark.Manifest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end spark-submit entrypoint: full run writes every bucket + manifest;
  * resume with a complete manifest processes nothing new; resume with a
  * partially-complete manifest processes only the missing buckets. */
class AppMainSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("app.Main rejects unknown, dangling and out-of-range arguments before running") {
    val base = Array("--input", "/nonexistent/in", "--output", "/nonexistent/out")
    for ((extra, named) <- Seq(
        (Array("--mdoe", "resume"), "--mdoe"),
        (Array("--mode", "resum"), "resum"),
        (Array("--buckets"), "--buckets"),
        (Array("--mode", "--buckets", "4"), "--mode"),
        (Array("--buckets", "0"), "--buckets"),
        (Array("--partitions", "x"), "--partitions"))) {
      val e = intercept[IllegalArgumentException](graft.app.Main.run(spark, base ++ extra))
      assert(e.getMessage.contains(named), e.getMessage)
    }
  }

  test("app.Main: full run, idempotent resume, partial-manifest resume") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-app-in").toString + "/turns"
    val out = Files.createTempDirectory("graft-app-out").toString + "/extracted"
    val mf = Files.createTempDirectory("graft-app-mf").toString + "/manifest"

    val turns = (0 until 200).map { i =>
      Turn(f"c${i % 20}%03d", i / 20, "user", s"plain text $i", "",
        new java.sql.Timestamp(1700000000000L + i))
    }
    spark.createDataset(turns).write.parquet(in)

    def run(mode: String): Unit = graft.app.Main.run(spark, Array(
      "--input", in, "--output", out, "--manifest", mf,
      "--mode", mode, "--buckets", "4", "--partitions", "4"))

    // the job's partition overwrite mode is its own: a session value set
    // before the run is still there after it
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prevOverwrite = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "DYNAMIC")
    try {
      run("full")
      assert(spark.conf.get(overwriteKey) == "DYNAMIC")
    } finally prevOverwrite match {
      case Some(v) => spark.conf.set(overwriteKey, v)
      case None => spark.conf.unset(overwriteKey)
    }
    val extracted = spark.read.parquet(out)
    assert(extracted.count() == 200)
    val m1 = Manifest.read(spark, mf)
    assert(m1.filter(col("status") === "done").count() == 4) // all 4 buckets

    // resume with everything done: no bucket reprocessed (manifest unchanged)
    val rowsBefore = spark.read.parquet(mf).count()
    run("resume")
    assert(spark.read.parquet(mf).count() == rowsBefore)
    assert(spark.read.parquet(out).count() == 200)

    // knock one bucket out of the manifest → resume reprocesses exactly it
    val kept = spark.read.parquet(mf).filter(col("part") =!= "1")
    val mf2 = Files.createTempDirectory("graft-app-mf2").toString + "/manifest"
    kept.write.parquet(mf2)
    graft.app.Main.run(spark, Array(
      "--input", in, "--output", out, "--manifest", mf2,
      "--mode", "resume", "--buckets", "4", "--partitions", "4"))
    val m2 = Manifest.read(spark, mf2)
    assert(m2.filter(col("status") === "done").count() == 4)
    assert(spark.read.parquet(out).count() == 200) // overwrite kept it idempotent
  }

  test("app.Main: zero-yield buckets get rows=0 done entries; stale partitions cleared") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-app0-in").toString + "/turns"
    val out = Files.createTempDirectory("graft-app0-out").toString + "/extracted"
    val mf = Files.createTempDirectory("graft-app0-mf").toString + "/manifest"

    // one conversation → its rows land in exactly one of 8 buckets; the other
    // 7 are pending-but-empty on every run
    val turns = (0 until 10).map { i =>
      Turn("conv_only", i, "user", s"text $i", "",
        new java.sql.Timestamp(1700000000000L + i))
    }
    spark.createDataset(turns).write.parquet(in)

    def run(): Unit = graft.app.Main.run(spark, Array(
      "--input", in, "--output", out, "--manifest", mf,
      "--mode", "resume", "--buckets", "8", "--partitions", "2"))

    run()
    val m1 = Manifest.read(spark, mf).filter(col("status") === "done")
    // EVERY pending bucket recorded done — empty ones with rows=0 — else each
    // subsequent resume re-extracts them forever
    assert(m1.count() == 8)
    assert(m1.filter(col("rows") === 0).count() == 7)
    assert(m1.filter(col("rows") > 0).agg(sum("rows")).head.getLong(0) == 10)

    // second resume: complete manifest → nothing reprocessed, no new entries
    val entriesBefore = spark.read.parquet(mf).count()
    run()
    assert(spark.read.parquet(mf).count() == entriesBefore)

    // stale-partition clear: pre-write garbage into a pending bucket dir,
    // knock that bucket from the manifest, rerun — the garbage must be gone
    // (its input bucket is empty, so dynamic overwrite alone would keep it)
    val fullBucket = m1.filter(col("rows") > 0).select("part").head.getString(0)
    val emptyBucket = (0 until 8).map(_.toString).find(_ != fullBucket).get
    spark.read.parquet(out).limit(3).write.parquet(s"$out/bucket=$emptyBucket")
    val kept = spark.read.parquet(mf).filter(col("part") =!= emptyBucket)
    val mf2 = Files.createTempDirectory("graft-app0-mf2").toString + "/manifest"
    kept.write.parquet(mf2)
    graft.app.Main.run(spark, Array(
      "--input", in, "--output", out, "--manifest", mf2,
      "--mode", "resume", "--buckets", "8", "--partitions", "2"))
    val m2 = Manifest.read(spark, mf2).filter(col("status") === "done")
    assert(m2.filter(col("part") === emptyBucket).select("rows").head.getLong(0) == 0)
    assert(spark.read.parquet(out).count() == 10) // stale files cleared, not counted
  }

  test("app.Main: resume under a new --snapshot re-extracts every bucket") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-appsnap-in").toString + "/turns"
    val out = Files.createTempDirectory("graft-appsnap-out").toString + "/extracted"
    val mf = Files.createTempDirectory("graft-appsnap-mf").toString + "/manifest"
    val turns = (0 until 40).map { i =>
      Turn(f"c${i % 8}%03d", i / 8, "user", s"plain text $i", "",
        new java.sql.Timestamp(1700000000000L + i))
    }
    spark.createDataset(turns).write.parquet(in)

    def run(mode: String, snapshot: String): Unit = graft.app.Main.run(spark, Array(
      "--input", in, "--output", out, "--manifest", mf, "--mode", mode,
      "--snapshot", snapshot, "--buckets", "4", "--partitions", "2"))

    run("full", "s1")
    assert(spark.read.parquet(mf).count() == 4)
    // same snapshot: every bucket is done, nothing is pending
    run("resume", "s1")
    assert(spark.read.parquet(mf).count() == 4)
    // a new snapshot: a done entry for s1 does not count, so all 4 rerun
    run("resume", "s2")
    assert(spark.read.parquet(mf).count() == 8)
    val latest = Manifest.read(spark, mf)
    assert(latest.filter(col("status") === "done" && col("snapshot_id") === "s2").count() == 4)
    assert(spark.read.parquet(out).count() == 40)
  }

  private def dirs(prefix: String): (String, String, String) = {
    def d(n: String) = Files.createTempDirectory(s"graft-$prefix-$n").toString
    (d("in") + "/turns", d("out") + "/extracted", d("mf") + "/manifest")
  }

  private def runMain(in: String, out: String, mf: String, mode: String,
      buckets: Int, partitions: Int): Unit = graft.app.Main.run(spark, Array(
    "--input", in, "--output", out, "--manifest", mf, "--mode", mode,
    "--buckets", buckets.toString, "--partitions", partitions.toString))

  /** Per bucket (rows, chars) of the written output, by re-reading it. */
  private def reread(out: String): Map[String, (Long, Long)] =
    spark.read.parquet(out).groupBy(col("bucket").cast("string"))
      .agg(count(lit(1)), sum(length(col("extracted_text"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Per part (rows, chars) of the manifest's latest entries. */
  private def manifest(mf: String): Map[String, (Long, Long)] =
    Manifest.read(spark, mf).filter(col("status") === "done").collect()
      .map(r => r.getAs[String]("part") -> (r.getAs[Long]("rows"), r.getAs[Long]("chars"))).toMap

  test("app.Main: every written file is in (conv_id, turn_idx) order") {
    import spark.implicits._
    val (in, out, mf) = dirs("order")
    // 60 conversations of uneven length, written in a shuffled order so that
    // only the job's own sort can put the files in key order
    val turns = for (c <- 0 until 60; i <- 0 until 5 + c % 7) yield
      Turn(f"c$c%03d", i, "user", s"plain text $c $i", "", new java.sql.Timestamp(1700000000000L + i))
    spark.createDataset(new scala.util.Random(3).shuffle(turns)).repartition(3).write.parquet(in)
    runMain(in, out, mf, "full", buckets = 16, partitions = 4)

    val files = scala.util.Using.resource(Files.walk(java.nio.file.Paths.get(out)))(_.toArray.map(_.toString))
      .filter(f => f.endsWith(".parquet") && f.contains("bucket="))
    assert(files.nonEmpty)
    val unsorted = files.filter { f =>
      val keys = spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
      keys != keys.sorted
    }
    assert(unsorted.isEmpty, s"${unsorted.length} of ${files.length} files out of order")
    // each task owns a contiguous run of buckets
    assert(files.length <= 4 + 16 - 1, files.length)
    assert(spark.read.parquet(out).count() == turns.length)
  }

  test("app.Main: manifest rows and chars equal a re-read of the output, in code points") {
    import spark.implicits._
    val (in, out, mf) = dirs("parity")
    // 😀 is one code point and two UTF-16 units: chars must count it once
    val turns = (0 until 120).map { i =>
      Turn(f"c${i % 24}%03d", i / 24, "user", s"plain 😀 text ${"é😀" * (i % 5)} $i", "",
        new java.sql.Timestamp(1700000000000L + i))
    }
    spark.createDataset(turns).write.parquet(in)
    runMain(in, out, mf, "full", buckets = 8, partitions = 3)
    val m = manifest(mf)
    val r = reread(out)
    assert(m.keySet == (0 until 8).map(_.toString).toSet)
    (0 until 8).map(_.toString).foreach(b => assert(m(b) == r.getOrElse(b, (0L, 0L)), b))
    assert(m.values.map(_._1).sum == 120)
    val utf16 = spark.read.parquet(out).collect().map(_.getAs[String]("extracted_text").length.toLong).sum
    assert(m.values.map(_._2).sum < utf16) // the emoji reached the output
  }

  test("app.Main: an empty input table records rows=0 done entries") {
    import spark.implicits._
    val (in, out, mf) = dirs("empty")
    spark.createDataset(Seq.empty[Turn]).write.parquet(in)
    runMain(in, out, mf, "full", buckets = 4, partitions = 2)
    assert(manifest(mf) == (0 until 4).map(b => b.toString -> (0L, 0L)).toMap)
  }

  test("app.Main: a resume whose pending buckets are all empty records rows=0 for each") {
    import spark.implicits._
    val (in, out, mf) = dirs("resume-empty")
    val turns = (0 until 10).map(i =>
      Turn("conv_only", i, "user", s"text $i", "", new java.sql.Timestamp(1700000000000L + i)))
    spark.createDataset(turns).write.parquet(in)
    runMain(in, out, mf, "full", buckets = 8, partitions = 2)
    val full = manifest(mf)
    val filled = full.collect { case (b, (n, _)) if n > 0 => b }.toSet
    assert(filled.size == 1)
    // keep only the filled bucket's entry: the 7 pending buckets hold no rows
    val mf2 = Files.createTempDirectory("graft-resume-empty-mf2").toString + "/manifest"
    spark.read.parquet(mf).filter(col("part").isin(filled.toSeq: _*)).write.parquet(mf2)
    runMain(in, out, mf2, "resume", buckets = 8, partitions = 2)
    val latest = spark.read.parquet(mf2).filter(!col("part").isin(filled.toSeq: _*))
    assert(latest.count() == 7)
    assert(latest.filter(col("status") === "done" && col("rows") === 0 && col("chars") === 0).count() == 7)
    assert(spark.read.parquet(out).count() == 10)
    assert(manifest(mf2) == full)
  }

  test("app.Main: a first resume against a missing manifest posts no failed query") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val (in, out, mf) = dirs("first-resume")
    spark.createDataset((0 until 10).map(i =>
      Turn(s"c$i", 0, "user", s"text $i", "", new java.sql.Timestamp(i.toLong)))).write.parquet(in)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = failed.add(s"$f: $e")
    }
    spark.listenerManager.register(listener)
    try {
      runMain(in, out, mf, "resume", buckets = 4, partitions = 2)
      org.apache.spark.sql.ListenerDrain(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(failed.isEmpty, failed)
    assert(manifest(mf).size == 4)
    assert(spark.read.parquet(out).count() == 10)
  }

  test("app.Main: a null turn_idx in the input fails the job") {
    val (in, out, mf) = dirs("null-idx")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("c1", 0, "user", "plain a", "", new java.sql.Timestamp(0)),
        org.apache.spark.sql.Row("c1", null, "user", "plain b", "", new java.sql.Timestamp(1)))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"))
      .write.parquet(in)
    val e = intercept[Exception](runMain(in, out, mf, "full", buckets = 2, partitions = 2))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(chain.contains("NOT_NULL_ASSERT_VIOLATION"), chain)
    assert(!new java.io.File(mf).exists) // no manifest entry for a failed job
  }

  test("app.Main: a turn table without a text column fails before the job runs") {
    val (in, out, mf) = dirs("no-text")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("c1", 0, "user", "", new java.sql.Timestamp(0)))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id STRING, turn_idx INT, role STRING, tool STRING, ts TIMESTAMP"))
      .write.parquet(in)
    val e = intercept[IllegalArgumentException](runMain(in, out, mf, "full", buckets = 2, partitions = 2))
    assert(e.getMessage.contains("lacks column(s): text"), e.getMessage)
    assert(!new java.io.File(out).exists && !new java.io.File(mf).exists)
  }
}
