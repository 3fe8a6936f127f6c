package perfbench

import graft.core.ExtractedTurn
import graft.extract.Extractor
import graft.spark.Pipeline
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Result of checking one job's output. `failed` counts units (turns or
  * documents) that are missing, duplicated, out of order or wrong; a job
  * level defect fails every unit of the job. `quarantined` counts rows
  * emitted with an `error` span. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String], quarantined: Long = 0)

object Fs {
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
  def copyDir(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
  private def matching(p: Path, suffix: String): List[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toList finally s.close() }
  def files(p: Path, suffix: String): Int = matching(p, suffix).length
  def bytes(p: Path, suffix: String): Long = matching(p, suffix).map(Files.size).sum
}

/** One workload over inputs `perfbench/gen.py` wrote to `dir`. */
trait Workload {
  def name: String
  /** Units of work one timed job completes (turns, pending turns or documents). */
  def units: Long
  /** The first job a fresh process runs: what a user pays before steady state. */
  def firstJob(spark: SparkSession, tr: Tracer): Unit = run(spark, tr)
  /** Load the references and build the state timed jobs start from. */
  def prepare(spark: SparkSession): Unit
  /** Untimed step before each timed job. */
  def reset(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, tr: Tracer): Unit
  /** An untimed job on a fresh session, paying its start-up before a timed one. */
  def warmContext(spark: SparkSession): Unit = { reset(spark); run(spark, new Tracer) }
  def check(spark: SparkSession): Check
}

object Workloads {
  val Names: Seq[String] = Seq("chat-mixed", "pdf-files", "resume", "dedup-ops")

  def apply(name: String, dir: Path, seed: Long): Workload = name match {
    case "chat-mixed" | "pdf-files" => new ExtractJob(name, dir, "full", seed)
    case "resume" => new ExtractJob(name, dir, "resume", seed)
    case "dedup-ops" => new DedupJob(dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }
}

/** `graft.app.Main.run` over a generated transcript table, in full or resume
  * mode. References: the generator's expected text for well-formed payloads,
  * and the single-threaded `Extractor.extract` of every payload. Both are
  * folded, once, into a reference table on disk (per turn: its bucket, a
  * 64-bit hash of the extractor's text and spans, and whether that text is
  * the generator's); each job's output is then compared with it inside
  * Spark, so the check stays cheap next to the job and nothing of the output
  * is kept on the driver. */
final class ExtractJob(val name: String, dir: Path, mode: String, seed: Long) extends Workload {
  // output buckets as a small deployment would pass them; one range
  // partition per core
  val Buckets = 16
  val Partitions: Int = Main.nproc
  private val in = dir.resolve("input").toString
  private val out = dir.resolve("out")
  private val mf = dir.resolve("manifest")
  private val template = dir.resolve("manifest-template")
  private val refsPath = dir.resolve("refs").toString
  def outDir: Path = out
  def inputDir: Path = dir.resolve("input")

  private var turns = 0L
  // per bucket: the rows and characters a correct output holds
  private var refBuckets: Map[String, (Long, Long)] = Map.empty
  // sum over the reference rows of a hash of (key, text hash, bucket), and
  // the turns whose extractor text is not the generator's
  private var refDigest = BigDecimal(0)
  private var refBad = 0L
  private var pending: Set[String] = Set.empty
  private var pendingTurns = 0L

  def units: Long = if (mode == "resume") pendingTurns else turns
  /** Every input payload, in input order (the kernel pass's input). */
  def payloads(spark: SparkSession): IndexedSeq[String] =
    spark.read.parquet(in).select("text").collect().map(_.getString(0)).toIndexedSeq

  private def args(m: String): Array[String] = Array("--input", in, "--output", out.toString,
    "--manifest", mf.toString, "--mode", m, "--partitions", Partitions.toString, "--buckets", Buckets.toString)

  /** Resume starts from a completed full run, so that run is its first job. */
  override def firstJob(spark: SparkSession, tr: Tracer): Unit = {
    Fs.rm(mf)
    tr.span("app.Main.run")(graft.app.Main.run(spark, args("full")))
  }

  /** Writes the reference table: per turn its bucket, the hash of the
    * single-threaded extractor's text and spans, and whether that text equals
    * the generator's expected text (always true for malformed payloads,
    * which have no expected text). */
  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val expected = spark.read.parquet(dir.resolve("expected.parquet").toString).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(3)).toMap
    val rows = spark.read.parquet(in)
      .select(col("conv_id"), col("turn_idx"), col("text"), pmod(xxhash64(col("conv_id")), lit(Buckets)).cast("string"))
      .collect()
    // payloads may repeat (the PDF pool); extract each distinct one once
    val extracted = mutable.HashMap.empty[String, (String, Long)]
    val chars = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val refs = rows.map { r =>
      val key = (r.getString(0), r.getInt(1))
      val (text, hash) = extracted.getOrElseUpdate(r.getString(2), {
        val x = Extractor.extract(r.getString(2))
        (x.text, TextHash(x.text, x.spans.map(s => (s.start, s.end, s.label))))
      })
      chars(r.getString(3)) += text.codePointCount(0, text.length)
      val want = expected(key)
      RefRow(key._1, key._2, r.getString(3), hash, want == null || want == text)
    }
    extracted.clear()
    turns = refs.length.toLong
    refBuckets = refs.groupBy(_.ref_bucket).map { case (b, rs) => b -> (rs.length.toLong, chars(b)) }
    refBad = refs.count(!_.ref_ok).toLong
    Fs.rm(Paths.get(refsPath))
    refs.toSeq.toDF().write.parquet(refsPath)
    refDigest = spark.read.parquet(refsPath)
      .agg(digest(col("conv_id"), col("turn_idx"), col("ref_hash"), col("ref_bucket"))).head().getDecimal(0)
    if (mode == "resume") {
      // pending: a seeded pick of ordinary buckets (not the mega
      // conversation's) covering about an eighth of all turns, so every seed
      // extracts a similar share
      val perBucket = refBuckets.map { case (b, (n, _)) => b -> n.toInt }
      val order = new scala.util.Random(seed).shuffle((0 until Buckets).map(_.toString).toList)
      var share = 0L
      pending = order.filter { b =>
        val n = perBucket.getOrElse(b, 0)
        val take = share < refs.length / 8 && n < 2 * refs.length / Buckets
        if (take) share += n
        take
      }.toSet
      pendingTurns = share
      Fs.rm(template)
      // the first job left a full run's manifest; keep its other buckets
      spark.read.parquet(mf.toString).filter(!col("part").isin(pending.toSeq: _*))
        .coalesce(1).write.parquet(template.toString)
    }
  }

  override def reset(spark: SparkSession): Unit = {
    Fs.rm(mf)
    if (mode == "resume") Fs.copyDir(template, mf)
  }

  /** A small job of the same kinds (parquet scan, shuffle, aggregate) starts
    * the fresh session's executor, shuffle and block managers; the program's
    * code is warm already. */
  override def warmContext(spark: SparkSession): Unit =
    spark.read.parquet(in).groupBy(col("conv_id")).count().agg(sum("count")).collect()

  def run(spark: SparkSession, tr: Tracer): Unit =
    tr.span("app.Main.run")(graft.app.Main.run(spark, args(mode)))

  /** Order-free digest of a table's rows: the exact sum of a 64-bit hash of
    * each row. Equal digests and counts mean equal rows, barring a hash
    * collision. */
  private def digest(cols: org.apache.spark.sql.Column*) = sum(xxhash64(cols: _*).cast("decimal(38,0)"))

  private def countIf(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))

  def check(spark: SparkSession): Check = {
    val notes = mutable.ArrayBuffer.empty[String]
    val output = spark.read.parquet(out.toString)
    val o = output.select(col("conv_id"), col("turn_idx"),
      TextHash.column(col("extracted_text"), col("spans")).as("hash"), col("bucket").cast("string").as("bucket"),
      exists(col("spans"), s => s("label") === "error").as("error_span"), lit(1).as("present"))
    // one pass over the output: when its rows, with their text hashes and
    // buckets, add up to the reference's, every row matches; only otherwise
    // the join below finds which rows are wrong, missing, duplicated or stray
    val fast = o.agg(count(lit(1)), digest(col("conv_id"), col("turn_idx"), col("hash"), col("bucket")),
      countIf(col("error_span"))).head()
    val (rowsOut, quarantined) = (fast.getLong(0), fast.getLong(2))
    val (missing, dup, stray, wrong) =
      if (rowsOut == turns && !fast.isNullAt(1) && BigDecimal(fast.getDecimal(1)) == refDigest) (0L, 0L, 0L, refBad)
      else diagnose(spark, o, notes)
    if (missing + dup + stray > 0) notes += s"missing=$missing duplicated=$dup stray=$stray"
    if (rowsOut != turns) notes += s"rows out $rowsOut != rows in $turns"
    if (refBad > 0) notes += s"extractor text differs from the generator's on $refBad turns"
    var jobDefect = false
    import spark.implicits._
    val violations = Pipeline.orderingViolations(output.drop("bucket").as[ExtractedTurn])
    if (violations != 0) { notes += s"ordering violations $violations"; jobDefect = true }
    // this job's manifest rows: one 'done' row per pending bucket, with the
    // rows and characters of a correct output (the output's own, when every
    // row above passed)
    val expectDone = if (mode == "resume") pending else (0 until Buckets).map(_.toString).toSet
    val m = spark.read.parquet(mf.toString).collect()
    val latest = m.map(_.getAs[java.sql.Timestamp]("run_ts")).maxBy(_.getTime)
    val mine = m.filter(_.getAs[java.sql.Timestamp]("run_ts") == latest)
    val byPart = mine.groupBy(_.getAs[String]("part"))
    val manifestOk = byPart.keySet == expectDone && byPart.values.forall(_.length == 1) &&
      mine.forall { r =>
        val (n, c) = refBuckets.getOrElse(r.getAs[String]("part"), (0L, 0L))
        r.getAs[String]("status") == "done" && r.getAs[Long]("rows") == n && r.getAs[Long]("chars") == c
      }
    if (!manifestOk) { notes += s"manifest mismatch (${mine.length} rows for ${expectDone.size} buckets)"; jobDefect = true }
    val failed = if (jobDefect) units else math.min(units, wrong + missing + dup + stray)
    Check(units, failed, notes.toSeq, quarantined)
  }

  /** Row-by-row comparison of the output `o` with the reference table:
    * (missing, duplicated, stray, wrong) turns. */
  private def diagnose(spark: SparkSession, o: org.apache.spark.sql.DataFrame,
      notes: mutable.ArrayBuffer[String]): (Long, Long, Long, Long) = {
    // one row per key of either side; a row is right when its text and spans
    // hash like the extractor's, that text is the generator's, and it sits in
    // the bucket its conversation hashes to
    val rowOk = coalesce(col("ref_ok") && col("hash") === col("ref_hash") && col("bucket") === col("ref_bucket"),
      lit(false))
    val keyed = o.join(spark.read.parquet(refsPath), Seq("conv_id", "turn_idx"), "full_outer")
      .groupBy("conv_id", "turn_idx").agg(
        count(col("present")).as("n"),
        max(col("ref_bucket").isNotNull).as("known"),
        min(rowOk).as("ok"))
    val r = keyed.agg(countIf(col("n") === 0), countIf(col("known") && col("n") > 1),
      sum(when(!col("known"), col("n")).otherwise(0L)), countIf(col("known") && col("n") === 1 && !col("ok"))).head()
    val Seq(missing, dup, stray, wrong) = (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    if (wrong > 0) notes += "wrong rows " + keyed.filter(col("known") && col("n") === 1 && !col("ok"))
      .select("conv_id", "turn_idx").limit(5).collect().map(r => (r.getString(0), r.getInt(1))).mkString(" ")
    (missing, dup, stray, wrong)
  }
}

/** One row of an [[ExtractJob]]'s reference table. */
final case class RefRow(conv_id: String, turn_idx: Int, ref_bucket: String, ref_hash: Long, ref_ok: Boolean)

/** 64 bits of the MD5 of an extracted text and its spans; the same function
  * hashes the reference on the driver and each output row inside Spark. */
object TextHash {
  def apply(text: String, spans: Seq[(Int, Int, String)]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(String.valueOf(text).getBytes(UTF_8))
    spans.foreach { case (a, b, label) => md.update(s"\u0000$a,$b,$label".getBytes(UTF_8)) }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  val column: UserDefinedFunction = udf { (text: String, spans: Seq[Row]) =>
    apply(text, Option(spans).getOrElse(Nil).map(s => (s.getInt(0), s.getInt(1), s.getString(2))))
  }
}

/** The dedup chain from `graft.ops.Dedup` over a document table with planted
  * exact duplicates, one-word near duplicates and copied paragraphs. */
final class DedupJob(dir: Path) extends Workload {
  val name = "dedup-ops"
  val docsPath: String = dir.resolve("docs").toString
  private var texts: Array[(Long, String)] = Array.empty
  private var planted: Array[(Long, Long, String)] = Array.empty
  private var survivors: Array[Long] = Array.empty
  private[perfbench] var near: Array[(Long, Long)] = Array.empty
  private var fp: Array[(Long, Long)] = Array.empty
  private var comps: Map[Long, Long] = Map.empty
  def units: Long = texts.length.toLong
  def documents: IndexedSeq[String] = texts.iterator.map(_._2).toIndexedSeq
  def nearPairs: Seq[(Long, Long)] = planted.collect { case (a, b, "near") => (a, b) }.toSeq

  def prepare(spark: SparkSession): Unit = {
    texts = spark.read.parquet(docsPath).collect().map(r => (r.getLong(0), r.getString(1)))
    planted = spark.read.parquet(dir.resolve("planted.parquet").toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }

  def run(spark: SparkSession, tr: Tracer): Unit = {
    import graft.ops.Dedup
    import spark.implicits._
    val df = spark.read.parquet(docsPath)
    survivors = tr.span("ops.exact128")(Dedup.exact128(df, "id", "text").select("id").as[Long].collect())
    near = tr.span("ops.minhash")(Dedup.minhashNearDups(df, "id", "text", threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect())
    fp = tr.span("ops.fingerprint")(Dedup.fingerprintNearDups(df, "id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect())
    comps = tr.span("ops.components") {
      val pairs = (near ++ fp).toSeq.toDF("a", "b")
      Dedup.connectedComponents(pairs, "a", "b").as[(Long, Long)].collect().toMap
    }
  }

  /** exact128 survivors must be the minimum id of each group of identical
    * texts; every planted pair must be found by the operator meant to find
    * it and end up in one component. */
  def check(spark: SparkSession): Check = {
    val notes = mutable.ArrayBuffer.empty[String]
    val own = texts.groupBy(_._2).values.map(_.map(_._1).min).toSet
    var failed = 0L
    if (survivors.length != survivors.toSet.size || survivors.toSet != own) {
      val diff = (survivors.toSet -- own) ++ (own -- survivors.toSet)
      notes += s"exact128 groups differ on ${diff.size} ids"
      failed += math.max(1, diff.size)
    }
    val nearSet = near.toSet
    val fpSet = fp.toSet
    val missNear = planted.filter(p => p._3 != "paragraph" && !nearSet((p._1, p._2)))
    val missPara = planted.filter(p => p._3 == "paragraph" && !fpSet((p._1, p._2)))
    val split = planted.filter { case (a, b, _) => comps.get(a).isEmpty || comps.get(a) != comps.get(b) }
    if (missNear.nonEmpty) notes += s"minhash missed ${missNear.length} planted pairs"
    if (missPara.nonEmpty) notes += s"fingerprint missed ${missPara.length} planted pairs"
    if (split.nonEmpty) notes += s"components split ${split.length} planted pairs"
    failed += 2L * (missNear.length + missPara.length + split.length)
    Check(units, math.min(units, failed), notes.toSeq)
  }
}
