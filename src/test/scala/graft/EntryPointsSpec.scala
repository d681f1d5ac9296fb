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

  /** Source files of the five entry points, which read their own run
    * settings (corpus size, cpus, budgets) from the environment.
    */
  private val EntryFiles = Set("Bench.scala", "Verify.scala", "PipelineMain.scala",
    "FixtureGen.scala", "StreamScale.scala")

  /** Every environment read of the library: the deployment scratch path
    * and the one switch that forces every driver fast path's distributed
    * form. A tuning value is a constant in the code that uses it, so a new
    * variable has to be added here on purpose.
    */
  private val ExpectedEnv = Set("GRAFT_LOCAL_DIR", "GRAFT_CENTRALITY_DRIVER_LIMIT")

  test("src/main reads exactly two environment variables outside the entry points") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), src.toAbsolutePath)
    val read = """(?:sys\.env|System\.getenv)(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([A-Za-z0-9_]+)"""".r
    val any = """sys\.env|System\.getenv""".r
    val files = Files.walk(src).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !EntryFiles(f.getFileName.toString)).toSeq
    assert(files.nonEmpty)
    val names = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val named = read.findAllMatchIn(text).map(_.group(1)).toSeq
      // a read whose name is not a literal would escape the pin
      assert(any.findAllMatchIn(text).size == named.size, s"$f reads the environment by a computed name")
      named
    }.toSet
    assert(names == ExpectedEnv)
  }
}
