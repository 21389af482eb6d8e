package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps fixture-table reads on [[Tables]]. A `read.parquet(s"$dir/…")`
  * outside `Tables.scala` infers the file's schema with a Spark job on
  * every call; `Tables` infers it once per file. A query that reads a
  * fixture table by hand again fails this spec; it belongs on `Tables`.
  */
class FixtureReadGuardSpec extends AnyFunSuite {

  private val token = "read.parquet(s\"$dir/"

  /** Lines carrying the token, outside `Tables.scala`. */
  private def offenders(files: Seq[(String, Seq[String])]): Seq[String] =
    files.filterNot(_._1.endsWith("/graft/Tables.scala")).flatMap { case (file, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains(token) => s"$file:${i + 1}: ${line.trim}"
      }
    }

  test("only Tables reads fixture tables with read.parquet(s\"$dir/...\")") {
    val root = Paths.get("src/main/scala")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.toString -> Files.readAllLines(p, UTF_8).asScala.toSeq)
    assert(files.exists { case (f, lines) =>
      f.endsWith("/graft/Tables.scala") && lines.exists(_.contains("private def parquet("))
    }, "Tables.parquet not found: wrong directory?")
    val found = offenders(files)
    assert(found.isEmpty, s"inferring fixture read; use Tables:\n  ${found.mkString("\n  ")}")
  }

  test("the guard flags a hand-written fixture read outside Tables") {
    val copy = Seq(
      "  def q(s: SparkSession, dir: String): DataFrame =",
      "    s.read.parquet(s\"$dir/events.parquet\").select(\"ts\")")
    assert(offenders(Seq("src/main/scala/graft/queries/Copy.scala" -> copy)).size === 1)
    assert(offenders(Seq("src/main/scala/graft/Tables.scala" -> copy)).isEmpty)
  }
}
