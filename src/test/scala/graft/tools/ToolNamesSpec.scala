package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Tools are run by name (`runMain graft.tools.X`, docs saying `tools/X`),
  * which no compiler checks: a deleted or renamed main leaves the name
  * dangling. The historical records (BASELINE.md, OPTIMIZATION_r06.md,
  * VERDICT.md, CHANGES.md) keep the names of their time and are not
  * scanned. */
class ToolNamesSpec extends AnyFunSuite {

  test("every tool named in README, scripts, build.sbt and main sources exists") {
    val roots = Seq("README.md", "scripts", "build.sbt", "src/main/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.exists(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val files: Seq[Path] = roots.flatMap { r =>
      Using.resource(Files.walk(r))(_.iterator.asScala.filter(Files.isRegularFile(_)).toList)
    }
    val ref = """(?:graft\.tools\.|tools/)([A-Z]\w*)""".r
    val named = files.flatMap { f =>
      ref.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f).toSeq
    }
    assert(named.exists(_._1 == "Inspect"), "scan found no tool names")
    val loader = getClass.getClassLoader
    val dangling = named.filter { case (n, _) =>
      scala.util.Try(Class.forName(s"graft.tools.$n", false, loader)).isFailure
    }
    assert(dangling.isEmpty, s"dangling tool names: ${dangling.mkString(", ")}")
  }
}
