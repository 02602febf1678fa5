package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from `GraftSession.local`: a second builder makes a
  * different engine, one without graft's extensions, the RocksDB state
  * store or the broadcast threshold, and code grows around what it leaves
  * out.
  */
class SessionFactorySpec extends AnyFunSuite {

  private val Call = """SparkSession\s*\.\s*builder\b""".r

  /** `file:line` of every `builder` call on `SparkSession` (the receiver
    * may sit on the line before) outside `GraftSession.scala`.
    */
  private def builderCalls(roots: Path*): Seq[String] = {
    val files = roots.flatMap(r => Files.walk(r).iterator().asScala)
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "GraftSession.scala")
      .sortBy(_.toString)
    files.flatMap { f =>
      val text = Files.readString(f)
      Call.findAllMatchIn(text).map { m =>
        val builderAt = m.end - "builder".length
        s"$f:${text.substring(0, builderAt).count(_ == '\n') + 1}"
      }
    }
  }

  test("no SparkSession is built outside GraftSession.local") {
    val found = builderCalls(Paths.get("src/main/scala"), Paths.get("src/test/scala"))
    if (found.nonEmpty) fail(found.mkString("session built outside GraftSession.local at:\n", "\n", ""))
  }

  test("the scan reports each builder call at its file and line, and skips GraftSession.scala") {
    val dir = Files.createTempDirectory("session-factory")
    val ss = "SparkSession"
    Files.writeString(dir.resolve("A.scala"),
      s"object A {\n  val s = $ss\n    .builder()\n    .getOrCreate()\n}\n")
    Files.writeString(dir.resolve("B.scala"),
      s"object B {\n  val s = org.apache.spark.sql.$ss.builder().getOrCreate()\n  val t = Other.builder()\n}\n")
    Files.writeString(dir.resolve("GraftSession.scala"),
      s"object GraftSession {\n  def local = $ss.builder().getOrCreate()\n}\n")
    assert(builderCalls(dir) == Seq(s"${dir.resolve("A.scala")}:3", s"${dir.resolve("B.scala")}:2"))
  }
}
