package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The repo's runnable entry points are a fixed set: the driver
  * contract (`Bench`, `Verify`, `Smoke`), plan-sha evidence
  * (`PlanDump`), table statistics (`TableDoctor`) and the per-layer
  * profiler (`Profile`). A measurement that needs a new number extends
  * `Profile` or a spec instead of growing another one-off main.
  */
class EntryPointsSpec extends AnyFunSuite {
  private val allowed = Set("Bench", "Verify", "Smoke", "PlanDump", "TableDoctor", "Profile")

  /** Names of the objects in `src/main/scala` that define `def main(`. */
  private def mains(): Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(mainsOf).toSet
    finally files.close()
  }

  private val ObjectRe = """(?m)^\s*(?:private\S*\s+)?(?:case\s+)?object\s+(\w+)""".r

  private def mainsOf(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val objects = ObjectRe.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    """def\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
      objects.filter(_._1 < m.start).lastOption.map(_._2)
        .getOrElse(s"<no object before def main in $file>")
    }.toSeq
  }

  test("only the known entry points define def main") {
    val found = mains()
    assert(found.contains("Bench"), s"the scan found no Bench main: $found")
    val extra = found -- allowed
    assert(extra.isEmpty,
      s"objects with def main outside ${allowed.toSeq.sorted.mkString(", ")}: " +
        extra.toSeq.sorted.mkString(", "))
  }
}
