package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` ships only its documented entry points: measurement and
  * debugging belong in tests or in the operators' own trace, not in
  * one-off probe mains.
  */
class MainsSpec extends AnyFunSuite {

  test("src/main defines def main only in the shipped entry points") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "run from the repository root")
    val defMain = """\bdef\s+main\s*\(""".r
    val withMain = sources.filter(f => defMain.findFirstIn(Files.readString(f)).isDefined)
      .map((f: Path) => f.getFileName.toString.stripSuffix(".scala")).toSet
    assert(withMain == Set("Bench", "Verify", "Probe", "PlanAudit", "ScaleProbe"))
  }
}
