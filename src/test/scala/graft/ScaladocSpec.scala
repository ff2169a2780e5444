package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree lint: a scaladoc block documents the definition right
  * after it, so a block followed (past blank lines) by another block
  * documents nothing — scaladoc attaches only the second one.
  */
class ScaladocSpec extends AnyFunSuite {

  /** `file:line` of every orphaned scaladoc block in `lines`. */
  private def orphans(file: Path, lines: IndexedSeq[String]): Seq[String] = {
    val found = Seq.newBuilder[String]
    var i = 0
    while (i < lines.length) {
      if (lines(i).trim.startsWith("/**")) {
        var end = i
        while (end < lines.length - 1 && !lines(end).contains("*/")) end += 1
        var next = end + 1
        while (next < lines.length && lines(next).trim.isEmpty) next += 1
        if (next < lines.length && lines(next).trim.startsWith("/**")) {
          found += s"$file:${i + 1}"
        }
        i = end + 1
      } else i += 1
    }
    found.result()
  }

  test("no scaladoc block in src/main/scala is orphaned by a second block") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    val sites = files.flatMap(f =>
      orphans(f, Files.readAllLines(f).asScala.toIndexedSeq))
    assert(sites.isEmpty, s"${sites.size} orphaned scaladoc blocks (move " +
      s"each onto the definition it documents): ${sites.mkString(", ")}")
  }
}
