package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled `src/main` classes have exactly these entry points: the
  * throughput and correctness instruments, the pipeline runner, the
  * oracle fixture generator and the streaming scale run. Per-stage and
  * per-query profiling belongs to perfbench (`perfbench.Harness --trace 1`),
  * so a new main has to be added here on purpose.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val Expected = Set("graft.Bench", "graft.Verify", "graft.app.PipelineMain",
    "graft.tools.FixtureGen", "graft.streaming.StreamScale")

  /** Classes with a static `main(String[])`: objects that define `def main`
    * and objects that extend `App` both get one.
    */
  private def entryPoints(root: Path): Set[String] = {
    val loader = getClass.getClassLoader
    Files.walk(root).iterator().asScala
      .map(root.relativize(_).toString)
      .filter(f => f.endsWith(".class") && !f.contains("$"))
      .map(_.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
      .filter { name =>
        Class.forName(name, false, loader).getMethods.exists { m =>
          m.getName == "main" && java.lang.reflect.Modifier.isStatic(m.getModifiers) &&
            m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))
        }
      }.toSet
  }

  test("src/main defines exactly the five supported entry points") {
    val root = Paths.get(Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(root), root)
    assert(entryPoints(root) == Expected)
  }
}
