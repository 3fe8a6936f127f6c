package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.Path
import scala.collection.immutable.ListMap

/** Benchmark entry point, started by `perfbench/run.py`.
  *
  *   measure  --workload W --seed S --seconds T --trace 0|1 --work DIR --out FILE
  *   selftest --work DIR
  *   sizing   --seed S --work DIR     (see [[Sizing]])
  *
  * Inputs are read from DIR/data (and DIR/side for traced runs), written
  * there beforehand by perfbench/gen.py.
  */
object Main {

  final case class Opts(mode: String, kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(args: Array[String]): Opts = {
    require(args.nonEmpty, "usage: measure|selftest|sizing --key value ...")
    val rest = args.tail
    require(rest.length % 2 == 0 && rest.grouped(2).forall(_(0).startsWith("--")), s"bad arguments: ${rest.mkString(" ")}")
    Opts(args.head, rest.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap)
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-extract")
    // the session graft.app.Main.main builds for spark-submit
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // keep everything inside the work directory and off the network
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.sql.shuffle.partitions", (4 * cores).toString)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.mode match {
      case "measure" => Measure.run(o)
      case "selftest" => SelfTest.run(o)
      case "sizing" => Sizing.run(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Marks the end of set-up (session plus first, cold job); the parent
    * times this process from launch to this line. */
  def ready(): Unit = { println("READY"); System.out.flush() }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Host fingerprint and a fixed-work CPU calibration. */
object Host {
  @volatile private var sink = 0L

  /** Milliseconds for a fixed xorshift loop on `threads` threads at once;
    * a throttled or shared window reads slower. */
  def calibrate(threads: Int): Double = {
    val iters = 50000000L
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var x = 88172645463325252L + k
        var i = 0L
        while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink += x
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def fingerprint(seed: Long): ListMap[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    ListMap(
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "memory_mb" -> os.getTotalMemorySize / (1 << 20),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")} ${System.getProperty("os.arch")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "seed" -> seed)
  }
}
