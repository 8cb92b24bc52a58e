package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Main code has exactly three entry points: `Verify` (oracle output),
  * `Bench` (the registry bench) and `ScaleSmoke` (the scaled smoke
  * run). One-off probes belong in a scratch checkout or in
  * `perfbench/` (`perfbench/run.py --trace 1` profiles every layer),
  * and plan audits belong in [[PlanContractSpec]], where they run on
  * every test pass.
  */
class EntryPointsSpec extends AnyFunSuite {
  private val mainDef = "def main(args: Array[String])"

  /** The object enclosing each `main` in one source file. */
  private def mainObjects(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val objects = "(?m)^\\s*(?:private\\S*\\s+)?object\\s+(\\w+)".r.findAllMatchIn(src).toSeq
    Iterator.iterate(src.indexOf(mainDef))(i => src.indexOf(mainDef, i + 1))
      .takeWhile(_ >= 0)
      .map(i => objects.filter(_.start < i).lastOption.fold("<no object>")(_.group(1)))
      .toSeq
  }

  test("only Verify, Bench and ScaleSmoke define a main under src/main/scala") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap(mainObjects)
      finally walk.close()
    assert(mains.sorted === Seq("Bench", "ScaleSmoke", "Verify"))
  }
}
