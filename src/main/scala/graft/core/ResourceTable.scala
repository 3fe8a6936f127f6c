package graft.core

import java.nio.charset.StandardCharsets

import scala.io.Source
import scala.util.control.NonFatal

/** A table parsed from a UTF-8 classpath resource, read at most once per
  * JVM. The first `get` opens, parses and closes the resource; every later
  * `get` returns that table, or, when the first read failed (a missing
  * resource, a malformed line), rethrows that one failure without reading
  * again. A missing resource fails with a `MissingResourceException` that
  * names the file.
  *
  * The extractor's fallbacks catch the failure per font or glyph, so a
  * table that cannot load must not cost a classpath scan on every call.
  */
final class ResourceTable[A](path: String)(parse: Iterator[String] => A) {

  private lazy val loaded: Either[Throwable, A] =
    try Right(ResourceTable.read(path, parse))
    catch { case NonFatal(e) => Left(e) }

  def get: A = loaded match {
    case Right(table) => table
    case Left(e) => throw e
  }
}

object ResourceTable {
  private def read[A](path: String, parse: Iterator[String] => A): A = {
    val in = getClass.getResourceAsStream(path)
    if (in == null)
      throw new java.util.MissingResourceException(
        s"missing classpath resource $path", classOf[ResourceTable[_]].getName, path)
    val src = Source.fromInputStream(in, StandardCharsets.UTF_8.name)
    try parse(src.getLines())
    finally src.close()
  }
}
