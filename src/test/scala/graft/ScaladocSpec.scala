package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A `/** … */` block directly followed by another documents nothing: the
  * compiler attaches only the second to the next declaration.
  */
class ScaladocSpec extends AnyFunSuite {

  /** `file:line` of every doc block that starts on the line right after
    * another block's closing line.
    */
  private def orphanedDocs(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f =>
      Files.readAllLines(f).asScala.toSeq.sliding(2).zipWithIndex.collect {
        case (Seq(prev, line), i) if prev.trim.endsWith("*/") && line.trim.startsWith("/**") =>
          s"$f:${i + 2}"
      }
    }
  }

  test("no scaladoc block in main sources is directly followed by another") {
    val found = orphanedDocs(Paths.get("src/main/scala"))
    if (found.nonEmpty) fail(found.mkString("orphaned scaladoc at:\n", "\n", ""))
  }

  test("the scan reports an orphaned block at its file and line") {
    val dir = Files.createTempDirectory("scaladoc")
    Files.writeString(dir.resolve("A.scala"),
      "object A {\n  /** stale */\n  /** live */\n  def f = 1\n}\n")
    Files.writeString(dir.resolve("B.scala"), "object B {\n  /** live */\n  def g = 2\n}\n")
    assert(orphanedDocs(dir) == Seq(s"${dir.resolve("A.scala")}:3"))
  }
}
