package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Per-layer figures from a traced run. Layers are the program's modules.
  * Spark figures come from the listener, attributed to the benchmark's call
  * spans; kernel figures from [[Kernels]]. A layer the workload does not
  * exercise is measured on a small side input from the same seed, so every
  * traced run reports every layer. */
object Layers {
  import Main.median

  /** The jobs of one `graft.app.Main.run` call, told apart by what their
    * stages did (Spark's adaptive execution runs stages from its own threads,
    * so call sites do not name them):
    *  - map: the stage that reads the range exchange and writes the output;
    *  - scan: the stage before it that reads the input and writes the exchange;
    *  - sample: the input-reading job just before the scan (the range bounds);
    *  - append: the last job after the map that writes (the manifest);
    *  - reread: the jobs between map and append (per-bucket metrics);
    *  - manifest read: input-reading jobs before the sample (resume mode). */
  final case class AppJobs(all: Seq[(JobRec, Seq[StageRec])], sample: Seq[StageRec], scan: Seq[StageRec],
      map: Seq[StageRec], writeStart: Double, rereadStart: Double, appendStart: Double, manifestRead: Double)

  def appJobs(tr: Tracer, run: Span): AppJobs = {
    val all = tr.jobsUnder(run.id).map(j => (j, tr.stagesOf(j)))
    val mapIdx = all.indexWhere(_._2.exists(s => s.shuffleReadBytes > 0 && s.outputBytes > 0))
    if (mapIdx < 0) return AppJobs(all, Nil, Nil, Nil, run.end, run.end, run.end, 0.0)
    val map = all(mapIdx)._2.filter(s => s.shuffleReadBytes > 0 && s.outputBytes > 0)
    val scanIdx = all.lastIndexWhere(_._2.exists(s => s.inputBytes > 0 && s.shuffleWriteBytes > 0), mapIdx)
    val scan = if (scanIdx < 0) Nil else all(scanIdx)._2.filter(s => s.inputBytes > 0 && s.shuffleWriteBytes > 0)
    def sampleLike(j: (JobRec, Seq[StageRec])) =
      j._2.nonEmpty && j._2.forall(s => s.inputBytes > 0 && s.shuffleWriteBytes == 0 && s.outputBytes == 0)
    val sampleIdx = if (scanIdx > 0 && sampleLike(all(scanIdx - 1))) scanIdx - 1 else -1
    val first = if (sampleIdx >= 0) sampleIdx else math.max(scanIdx, mapIdx)
    val appendIdx = all.lastIndexWhere(_._2.exists(_.outputBytes > 0))
    val after = all.drop(mapIdx + 1)
    val appendStart = if (appendIdx > mapIdx) all(appendIdx)._1.start else run.end
    val rereadStart = after.headOption.map(_._1.start).filter(_ < appendStart).getOrElse(appendStart)
    val manifestRead = all.take(first).filter(_._2.exists(_.inputBytes > 0)).map(j => j._1.end - j._1.start).sum / 1e3
    AppJobs(all, if (sampleIdx >= 0) all(sampleIdx)._2 else Nil, scan, map,
      all(first)._1.start, rereadStart, appendStart, manifestRead)
  }

  /** Phase spans partitioning each Main.run call: prelude (arguments,
    * manifest read, pending-bucket delete), write (range sample, exchange,
    * extraction, parquet write and commit), metrics re-read, manifest
    * append. */
  private val phases = mutable.Map.empty[Long, Seq[(String, Double, Double)]]

  def phasesOf(tr: Tracer, run: Span): Seq[(String, Double, Double)] = phases.getOrElseUpdate(run.id, {
    val a = appJobs(tr, run)
    Seq(("app.prelude", run.start, a.writeStart), ("app.write", a.writeStart, a.rereadStart),
      ("app.metrics_reread", a.rereadStart, a.appendStart), ("app.manifest_append", a.appendStart, run.end))
  })

  /** All spans with the phase spans added and each listener job placed under
    * the phase it started in. */
  def phased(tr: Tracer): Seq[Span] = {
    val spans = tr.withSparkSpans
    val runs = spans.filter(_.name == "app.Main.run")
    val added = runs.flatMap { r =>
      phasesOf(tr, r).map { case (n, a, b) => Span(Tracer.nextId(), r.id, n, "phase", a, b) }
    }
    val byRun = added.groupBy(_.parent)
    spans.map { s =>
      if (s.kind != "job") s
      else byRun.get(s.parent).flatMap(_.find(p => s.start >= p.start && s.start < p.end))
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    } ++ added
  }

  private def sum(ss: Seq[StageRec])(f: StageRec => Long): Long = ss.map(f).sum

  /** spark.* and app.* figures of one Main.run call. */
  def appFigures(tr: Tracer, run: Span, inDir: Path, outDir: Path): ListMap[String, Double] = {
    val a = appJobs(tr, run)
    val ws = a.sample ++ a.scan ++ a.map
    val tasks = a.map.flatMap(_.taskMs).map(_.toDouble)
    val ph = phasesOf(tr, run).map { case (n, x, y) => n -> (y - x) / 1e3 }.toMap
    val written = sum(a.map)(_.outputRecords)
    ListMap(
      "spark.scan.s" -> a.scan.map(_.dur).sum / 1e3,
      // the input files the scan stage reads; Spark's input metrics count
      // only what the vectorised reader reads on the task's own thread
      "spark.scan.input_bytes" -> (if (a.scan.isEmpty) 0.0 else Fs.bytes(inDir, ".parquet").toDouble),
      "spark.range_sample.s" -> a.sample.map(_.dur).sum / 1e3,
      "spark.exchange.shuffle_write_bytes" -> sum(a.scan)(_.shuffleWriteBytes).toDouble,
      "spark.exchange.shuffle_read_bytes" -> sum(a.map)(_.shuffleReadBytes).toDouble,
      "spark.exchange.fetch_wait_s" -> sum(a.map)(_.fetchWaitMs) / 1e3,
      "spark.map.cpu_s" -> sum(a.map)(_.cpuNs) / 1e9,
      "spark.map.gc_s" -> sum(a.map)(_.gcMs) / 1e3,
      "spark.map.spill_bytes" -> sum(ws)(_.spillBytes).toDouble,
      "spark.map.task_skew" -> (if (tasks.isEmpty) 0.0 else tasks.max / math.max(1.0, median(tasks))),
      "spark.jobs" -> a.all.length.toDouble,
      "spark.stages" -> a.all.map(_._2.length).sum.toDouble,
      "spark.tasks" -> a.all.flatMap(_._2).map(_.tasks).sum.toDouble,
      "app.write.s" -> ph("app.write"),
      "app.write.output_bytes" -> sum(a.map)(_.outputBytes).toDouble,
      "app.write.files" -> Fs.files(outDir, ".parquet").toDouble,
      "app.metrics_reread.s" -> ph("app.metrics_reread"),
      "app.manifest.s" -> (ph("app.manifest_append") + a.manifestRead),
      "app.resume.scan_waste" -> (if (written == 0) 0.0 else sum(a.scan)(_.inputRecords).toDouble / written))
  }

  /** ops.* figures of one dedup job. */
  def opsFigures(tr: Tracer, jobSpan: Long): ListMap[String, Double] = {
    val ops = tr.all.filter(s => s.parent == jobSpan && s.name.startsWith("ops."))
    def secs(n: String) = ops.filter(_.name == n).map(_.dur).sum / 1e3
    val shuffle = tr.jobsUnder(jobSpan).flatMap(tr.stagesOf).map(_.shuffleWriteBytes).sum
    ListMap("ops.exact128.s" -> secs("ops.exact128"), "ops.minhash.s" -> secs("ops.minhash"),
      "ops.fingerprint.s" -> secs("ops.fingerprint"), "ops.components.s" -> secs("ops.components"),
      "ops.shuffle_bytes" -> shuffle.toDouble)
  }

  private def medians(rows: Seq[ListMap[String, Double]]): ListMap[String, Double] =
    if (rows.isEmpty) ListMap.empty
    else ListMap(rows.head.keys.toSeq.map(k => k -> median(rows.map(_(k)))): _*)

  /** Tracers of the side workloads run so far; their spans go to the same
    * spans file as the run's own. */
  val sideTracers = mutable.ArrayBuffer.empty[Tracer]

  /** A side workload: its first job, then `jobs` traced jobs. Returns its
    * tracer and the traced job span ids. */
  private def side(spark: SparkSession, w: Workload, jobs: Int): (Tracer, Seq[Long]) = {
    val tr = new Tracer
    sideTracers += tr
    w.firstJob(spark, new Tracer)
    w.prepare(spark)
    val ids = (0 until jobs).map { _ =>
      w.reset(spark)
      tr.attach(spark.sparkContext)
      var id = 0L
      tr.span("bench.job") { id = tr.current; w.run(spark, tr) }
      tr.detach()
      id
    }
    (tr, ids)
  }

  private def extractFigures(tr: Tracer, jobIds: Seq[Long], w: ExtractJob) = medians(jobIds.map { j =>
    val run = tr.all.find(s => s.parent == j && s.name == "app.Main.run").get
    appFigures(tr, run, w.inputDir, w.outDir)
  })

  private def dedupFigures(spark: SparkSession, tr: Tracer, jobIds: Seq[Long], w: DedupJob) = {
    import graft.ops.Dedup
    val df = spark.read.parquet(w.docsPath)
    val candidates = Dedup.minhashCandidates(df, "id", "text").count()
    val verified = Dedup.minhashNearDups(df, "id", "text", threshold = 0.8).count()
    val fpPairs = Dedup.fingerprintNearDups(df, "id", "text").count()
    medians(jobIds.map(opsFigures(tr, _))) ++ ListMap(
      "ops.minhash.candidates" -> candidates.toDouble,
      "ops.minhash.verified_ratio" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "ops.fingerprint.candidates" -> fpPairs.toDouble)
  }

  private def texts(spark: SparkSession, path: Path): Seq[String] =
    spark.read.parquet(path.toString).select("text").collect().map(_.getString(0)).toSeq

  /** Per-turn kernel costs are averages; this many payloads settle them and
    * keep a traced run within its time budget. */
  private val KernelPayloads = 20000

  /** Every per-layer figure. `sideDir` holds the side inputs gen.py wrote:
    * chat (a small chat-mixed table), pdf (a few whole PDFs), docs (a small
    * dedup table). */
  def collect(tr: Tracer, w: Workload, tracedJobs: Seq[Long], spark: SparkSession,
      sideDir: Path): ListMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val own = w match {
      case e: ExtractJob =>
        out ++= extractFigures(tr, tracedJobs, e)
        val dw = new DedupJob(sideDir.resolve("docs"))
        val (str, ids) = side(spark, dw, 2)
        out ++= dedupFigures(spark, str, ids, dw)
        e.payloads(spark)
      case d: DedupJob =>
        val ew = Workloads("chat-mixed", sideDir.resolve("chat"), 0L).asInstanceOf[ExtractJob]
        val (str, ids) = side(spark, ew, 2)
        out ++= extractFigures(str, ids, ew)
        out ++= dedupFigures(spark, tr, tracedJobs, d)
        d.documents
    }
    // dialects this workload lacks come from the side samples
    val sidePayloads = mutable.ArrayBuffer.empty[String]
    if (w.name != "pdf-files") sidePayloads ++= texts(spark, sideDir.resolve("pdf/input"))
    if (w.name == "pdf-files" || w.name == "dedup-ops") sidePayloads ++= texts(spark, sideDir.resolve("chat/input"))
    // repeated payloads (the PDF pool) cost the same each time; time each
    // once, and at most KernelPayloads of them, evenly spread over the input
    val distinct = own.distinct
    val stride = math.max(1, (distinct.length + KernelPayloads - 1) / KernelPayloads)
    out ++= Kernels.run(tr, distinct.indices.by(stride).map(distinct), sidePayloads.toIndexedSeq)
    ListMap(out.toSeq: _*)
  }
}
