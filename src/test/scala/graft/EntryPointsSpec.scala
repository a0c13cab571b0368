package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` ships the engine plus exactly three entry points: the
  * timing harness (`Bench`), the correctness dump (`Verify`) and the
  * plan dump (`PlanDump`). One-off probes, A/Bs and generators belong
  * in scratch code; their findings go to SCALE.md. A new `main` in
  * `src/main` has to be added here on purpose.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val objectDecl = """\bobject\s+(\w+)""".r
  private val mainDecl = """\bdef\s+main\s*\(""".r

  /** Names of the objects declaring `def main(` in `root`'s .scala
    * files — each main is attributed to the nearest `object` above it. */
  private def mainObjects(root: Path): Set[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val src = Files.readString(f)
      val objects = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toList
      mainDecl.findAllMatchIn(src).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2)
          .getOrElse(s"<no object> in $f")
      }
    }.toSet
  }

  test("src/main declares exactly the Bench, Verify and PlanDump mains") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    assert(mainObjects(root) == Set("Bench", "Verify", "PlanDump"))
  }
}
