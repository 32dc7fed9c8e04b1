package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library ships a fixed set of runnable entry points. One-shot probes
  * belong outside `src/main`; a new `main` has to be added to `expected`
  * on purpose.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val expected = Set(
    "graft.Bench", "graft.Verify", "graft.Explain",
    "graft.tools.ScaleFixtures", "graft.tools.IsolatedQueryProbe")

  private val packageDecl = """(?m)^package\s+([\w.]+)""".r
  private val objectDecl = """\bobject\s+(\w+)""".r

  /** `package.Object` for every object in `src` that defines `def main(`. */
  private def mains(src: String): Seq[String] = {
    val pkg = packageDecl.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
      val owner = objectDecl.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption
      pkg + owner.getOrElse(s"<no object before main in package $pkg>")
    }.toSeq
  }

  test("src/main defines exactly the declared entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repository root (cwd: ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root)
    val found =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap((p: Path) => mains(new String(Files.readAllBytes(p), "UTF-8")))
        .toSet
      finally files.close()
    assert(found == expected,
      s"unexpected: ${found -- expected}; missing: ${expected -- found}")
  }
}
