package graft.pdf

import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Deflater, Inflater}

/** `Filters.flate` reuses one thread's inflaters and output buffer across
  * streams. Whatever came before on the thread, each decode must equal what
  * a fresh `Inflater` per stream gives, and threads must not share state.
  */
class FlateScratchSpec extends AnyFunSuite {

  /** The decode with a fresh `Inflater`, a 16 KB buffer and a growing
    * output per stream: zlib first, raw deflate on a format error, what was
    * inflated so far on truncated input, nothing when both fail. */
  private def fresh(data: Array[Byte]): Array[Byte] = {
    def inflateWith(nowrap: Boolean): Array[Byte] = {
      val inf = new Inflater(nowrap)
      inf.setInput(data)
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](16384)
      try {
        while (!inf.finished() && !inf.needsDictionary()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput()) return out.toByteArray
          out.write(buf, 0, n)
        }
        out.toByteArray
      } finally inf.end()
    }
    try inflateWith(nowrap = false)
    catch { case _: DataFormatException => try inflateWith(nowrap = true) catch { case _: DataFormatException => Array.emptyByteArray } }
  }

  private def deflate(raw: Array[Byte], nowrap: Boolean): Array[Byte] = {
    val d = new Deflater(6, nowrap)
    d.setInput(raw)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def text(seed: Int, bytes: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bytes)(("BT (word) Tj ET 0123456789\n".charAt(rnd.nextInt(27))).toByte)
  }

  // larger than the retained scratch, so one decode grows past it
  private val big = text(1, Filters.FlateScratchRetained * 3)
  private val streams: Seq[(String, Array[Byte])] = Seq(
    "garbage" -> Array.tabulate[Byte](300)(i => (i * 37 + 11).toByte),
    "truncated" -> deflate(text(2, 50000), nowrap = false).take(4000),
    "raw deflate" -> deflate(text(3, 70000), nowrap = true),
    "normal" -> deflate(text(4, 1000), nowrap = false),
    "empty" -> Array.emptyByteArray,
    "big" -> deflate(big, nowrap = false),
    "normal after big" -> deflate(text(5, 200000), nowrap = false))

  test("one thread: each stream in a row decodes as with a fresh Inflater") {
    streams.foreach { case (name, data) =>
      val got = Filters.flate(data)
      assert(got sameElements fresh(data), name)
    }
    assert(Filters.flate(deflate(big, nowrap = false)) sameElements big)
    // the truncated stream kept a prefix
    assert(fresh(streams(1)._2).nonEmpty && fresh(streams(1)._2).length < 50000)
  }

  test("two threads decoding at once do not interfere") {
    val expected = streams.map { case (_, d) => fresh(d) }
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        (0 until 30).foreach { round =>
          streams.indices.foreach { k =>
            val i = (k + t + round) % streams.length
            if (!(Filters.flate(streams(i)._2) sameElements expected(i))) failures.incrementAndGet()
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.get == 0)
  }
}
