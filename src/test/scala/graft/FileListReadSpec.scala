package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A parquet file list graft already holds is read through
  * `ManifestScan` (via `Upsert.scanFiles`), never through
  * `spark.read.parquet(files: _*)`: Spark's file index statuses every
  * file again and, past 32 paths, runs a listing job. This spec fails on
  * any `.parquet(` call in `src/main/scala` whose arguments splice a
  * sequence with `: _*`, so a second construction does not come back.
  */
class FileListReadSpec extends AnyFunSuite {

  private val Comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** The `.parquet(…: _*)` calls in `src` (comments ignored), each as
    * its `.parquet(` argument text.
    */
  private def splicedParquetCalls(src: String): Seq[String] = {
    val code = Comments.replaceAllIn(src, "")
    """\.parquet\(""".r.findAllMatchIn(code).flatMap { m =>
      var depth = 1
      var i = m.end
      var spliced = false
      while (i < code.length && depth > 0) {
        code.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ':' if depth == 1 && code.startsWith("_*", skipSpaces(code, i + 1)) =>
            spliced = true
          case _ =>
        }
        i += 1
      }
      if (spliced) Some(code.substring(m.start, i)) else None
    }.toSeq
  }

  private def skipSpaces(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    i
  }

  test("the scan finds the spliced file-list forms it guards against") {
    assert(splicedParquetCalls("r.parquet(rels.map(abs(dir, _)): _*)").size == 1)
    assert(splicedParquetCalls("spark.read.schema(s)\n  .parquet(files.toIndexedSeq:\n _*)").size == 1)
    assert(splicedParquetCalls("df.write.partitionBy(cols: _*).parquet(path)").isEmpty)
    assert(splicedParquetCalls("spark.read.parquet(dir)").isEmpty)
    assert(splicedParquetCalls("// spark.read.parquet(files: _*)\n/* r.parquet(fs: _*) */").isEmpty)
  }

  test("src/main reads no parquet file list through spark.read.parquet(files: _*)") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
    assert(sources.exists(_.endsWith("Upsert.scala")), s"the scan found no Upsert.scala")
    val found = sources.flatMap((f: Path) =>
      splicedParquetCalls(Files.readString(f)).map(c => s"$f: $c"))
    assert(found.isEmpty,
      s"read known files through Upsert.scanFiles / ManifestScan instead:\n${found.mkString("\n")}")
  }
}
