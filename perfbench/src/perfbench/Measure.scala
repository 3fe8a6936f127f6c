package perfbench

import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One run of one workload: a closed loop of jobs from this process, one job
  * at a time, each checked for correctness after its clock stops.
  *
  * Untraced (`--trace 0`): the end-to-end figures at local[nproc], then a
  * pass at local[1] on the same inputs. Traced (`--trace 1`): jobs alternate
  * between listener-on and listener-off, the per-layer figures come from the
  * traced ones, then the single-threaded kernel pass runs. */
object Measure {
  import Main.median

  final case class Sample(seconds: Double, traced: Boolean, spanId: Long)

  def run(o: Main.Opts): Unit = {
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val work = Paths.get(o("work"))
    val n = Main.nproc
    val details = mutable.LinkedHashMap.empty[String, Any]
    details("host") = Host.fingerprint(seed)

    val checks = mutable.ArrayBuffer.empty[Check]
    val tr = new Tracer
    // set-up as a user pays it: session, then the first, cold job
    val spark = Main.session(n, work)
    val w = Workloads(name, work.resolve("data"), seed)
    val f0 = System.nanoTime()
    w.firstJob(spark, new Tracer)
    Main.ready()
    details("first_job_s") = (System.nanoTime() - f0) / 1e9
    details("calibration_before_ms") = ListMap("1_thread" -> Host.calibrate(1), s"${n}_threads" -> Host.calibrate(n))
    GcLog.install()
    val samples = mutable.ArrayBuffer.empty[Sample]
    // JVM uptime (ms) at the start and end of each timed job at local[nproc]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val checkSecs = mutable.ArrayBuffer.empty[Double]
    val metrics = mutable.LinkedHashMap.empty[String, Double]

    /** One job: (seconds, span id). A measured job is checked after its
      * clock stops. */
    def job(s: SparkSession, traced: Boolean, measured: Boolean): (Double, Long) = {
      w.reset(s)
      // only traced jobs leave spans in the run's tracer
      val t = if (traced) tr else new Tracer
      if (traced) tr.attach(s.sparkContext)
      var spanId = 0L
      // every timed job starts from a collected heap, so the live heap it
      // leaves behind is its own
      if (measured) System.gc()
      val u0 = GcLog.uptime
      val t0 = System.nanoTime()
      val ok = try { t.span("bench.job") { spanId = t.current; w.run(s, t) }; true }
      catch { case e: Exception => details("job_error") = e.toString; false }
      val secs = (System.nanoTime() - t0) / 1e9
      if (measured && s.sparkContext.master == s"local[$n]") windows += ((u0, GcLog.uptime))
      if (traced) tr.detach()
      if (measured) {
        val c0 = System.nanoTime()
        checks += (if (ok) w.check(s) else Check(w.units, w.units, Seq("job threw")))
        checkSecs += (System.nanoTime() - c0) / 1e9
      } else if (!ok) checks += Check(w.units, w.units, Seq("untimed job threw"))
      (secs, spanId)
    }

    try {
      val t0 = System.nanoTime()
      w.prepare(spark)
      details("prepare_s") = (System.nanoTime() - t0) / 1e9
      details("units_per_job") = w.units
      // traced runs alternate listener-on and -off jobs in ABBA order, so a
      // warm-up trend weighs on both sides alike
      val minJobs = if (trace) 4 else 3
      var k = 0
      while (samples.map(_.seconds).sum < seconds || samples.length < minJobs) {
        val traced = trace && (k % 4 == 0 || k % 4 == 3)
        val (secs, id) = job(spark, traced, measured = true)
        samples += Sample(secs, traced, id)
        k += 1
      }
      // each job's live-heap peak; the median over the jobs that collected
      val perJob = windows.toSeq.map(GcLog.in)
      details("gcs_per_timed_job") = perJob.map(_.length)
      val peakHeapMb = median(perJob.filter(_.nonEmpty).map(_.max / 1048576.0))
      val plain = samples.filterNot(_.traced).map(s => w.units / s.seconds).toSeq
      details("job_s") = samples.map(_.seconds)
      details("job_traced") = samples.map(_.traced)

      if (!trace) {
        metrics("turns_per_s") = median(plain)
        metrics("peak_heap_mb") = peakHeapMb
        spark.stop()
        // N→4N: one pass at local[1] on the same inputs: a small job pays
        // the new context's start, then the timed job, reported as measured
        val one = Main.session(1, work)
        try {
          val c0 = System.nanoTime()
          w.warmContext(one)
          val warm = (System.nanoTime() - c0) / 1e9
          val (t1, _) = job(one, traced = false, measured = true)
          details("local1_job_s") = Seq(warm, t1)
          metrics("turns_per_s_1c") = w.units / t1
          metrics("scaling_eff_1_to_4") = metrics("turns_per_s") / (n * metrics("turns_per_s_1c"))
        } finally one.stop()
      } else {
        val tracedRate = median(samples.filter(_.traced).map(s => w.units / s.seconds).toSeq)
        val layers = Layers.collect(tr, w, samples.filter(_.traced).map(_.spanId).toSeq, spark, work.resolve("side"))
        metrics ++= layers
        metrics("trace.overhead_ratio") = 1.0 - tracedRate / median(plain)
        details("turns_per_s_traced") = tracedRate
        details("turns_per_s_untraced") = median(plain)
        val spansFile = work.resolve(s"spans-$name-$seed.json")
        val spans = (tr +: Layers.sideTracers.toSeq).flatMap(Layers.phased)
        Files.write(spansFile, Tracer.toJson(spans).getBytes(UTF_8))
        details("spans_file") = spansFile.toString
        spark.stop()
      }
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }

    details("check_s") = checkSecs.toSeq
    details("calibration_after_ms") = ListMap("1_thread" -> Host.calibrate(1), s"${n}_threads" -> Host.calibrate(n))
    val attempted = checks.map(_.attempted).sum
    val failed = checks.map(_.failed).sum
    details("failed_ratio") = if (attempted == 0) 1.0 else failed.toDouble / attempted
    details("quarantined_ratio") = if (attempted == 0) 0.0 else checks.map(_.quarantined).sum.toDouble / attempted
    details("check_notes") = checks.flatMap(_.notes).distinct.take(20)
    val result = ListMap(
      "correct" -> (failed == 0 && checks.nonEmpty && checks.forall(_.notes.isEmpty)),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.toSeq: _*),
      "details" -> ListMap(details.toSeq: _*))
    Files.write(Paths.get(o("out")), (Json(result) + "\n").getBytes(UTF_8))
  }
}

/** The heap in use after each garbage collection, from the JVM's GC
  * notifications: live data plus what was promoted since the last full
  * collection, without the young garbage a pool's peak usage counts. */
object GcLog {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // (JVM uptime ms at the collection's start, heap bytes in use after it)
  private val events = new ConcurrentLinkedQueue[(Long, Long)]()
  private var installed = false

  def uptime: Long = ManagementFactory.getRuntimeMXBean.getUptime

  def install(): Unit = synchronized {
    if (!installed) ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          events.add((gc.getStartTime, used))
        }, null, null)
      case _ =>
    }
    installed = true
  }

  /** Heap bytes in use after each collection that started inside `window`
    * (uptime ms). */
  def in(window: (Long, Long)): Seq[Long] =
    events.asScala.toSeq.collect { case (t, used) if t >= window._1 && t <= window._2 => used }
}
