package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.commons.codec.digest.DigestUtils

/** `name<TAB>sha256(oracleSql(name))` for every oracle key, name-sorted —
  * the golden that pins every emitted oracle string byte for byte
  * (checked by [[SparkEntrySpec]]). After an intended oracle change,
  * regenerate it in the same diff:
  * `sbt "Test/runMain graft.OracleDigest src/test/resources/oracle_sql.sha256"`.
  */
object OracleDigest {
  val resource = "/oracle_sql.sha256"

  def digests: Seq[(String, String)] =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (name, sql) =>
      name -> DigestUtils.sha256Hex(sql.getBytes(UTF_8))
    }

  def render(ds: Seq[(String, String)]): String =
    ds.map { case (name, h) => s"$name\t$h\n" }.mkString

  def main(args: Array[String]): Unit =
    Files.write(Paths.get(args(0)), render(digests).getBytes(UTF_8))
}
