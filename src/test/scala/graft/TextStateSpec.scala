package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Both text surfaces, `ContentEvaluator`'s runs and `TextItems`' items, run
  * on one text state, `graft.eval.TextState`. */
class TextStateSpec extends AnyFunSuite {

  test("one text state: TextState is the only text-state class in graft.eval and graft.extract") {
    val loader = getClass.getClassLoader
    // the compiled classes of both packages, from the main classes directory
    val root = Path.of(Class.forName("graft.eval.ContentEvaluator", false, loader)
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val names = Seq("graft/eval", "graft/extract").flatMap { pkg =>
      Files.list(root.resolve(pkg)).iterator.asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".class")).map(f => pkg.replace('/', '.') + "." + f.stripSuffix(".class"))
    }.sorted
    assert(names.length > 20, names)
    // a text-state class is named for a state or holds a text matrix
    val states = names.filter { n =>
      n.endsWith("State") ||
        Class.forName(n, false, loader).getDeclaredFields.exists(_.getName.contains("textMatrix"))
    }
    assert(states == Seq("graft.eval.TextState"), states)
  }
}
