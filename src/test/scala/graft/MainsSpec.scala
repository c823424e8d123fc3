package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library ships a fixed set of entry points: the driver contract
  * (Bench, Verify) and the measurement tools (JobStats, PlanDump,
  * ScaleData). One-off probe mains are scratch: run them and delete
  * them, and keep their findings as evidence in comments and docs. */
class MainsSpec extends AnyFunSuite {
  test("src/main declares def main only in Bench, JobStats, PlanDump, " +
    "ScaleData and Verify") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val mainDef = """\bdef\s+main\s*\(""".r
    val walk = java.nio.file.Files.walk(root)
    val withMain =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => mainDef.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.getFileName.toString.stripSuffix(".scala")).toSet
      finally walk.close()
    assert(withMain === Set("Bench", "JobStats", "PlanDump", "ScaleData",
      "Verify"))
  }
}
