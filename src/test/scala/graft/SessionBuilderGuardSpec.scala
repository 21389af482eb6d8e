package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps session building on [[GraftSession.builder]]. A session built
  * with `SparkSession.builder()` elsewhere runs without the graft
  * settings: the sized codegen cache, the in-process local filesystem and
  * the checkpoint file manager. In a shared test JVM the first session
  * fixes the static ones for every suite after it. A new builder call
  * outside `GraftSession.scala` fails this spec.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {

  private val token = "SparkSession.builder"
  private val allowed = Seq("/graft/GraftSession.scala", "/graft/SessionBuilderGuardSpec.scala")

  /** Lines carrying the token, outside the allowed files. */
  private def offenders(files: Seq[(String, Seq[String])]): Seq[String] =
    files.filterNot(f => allowed.exists(f._1.endsWith)).flatMap { case (file, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if line.contains(token) => s"$file:${i + 1}: ${line.trim}"
      }
    }

  test("only GraftSession calls SparkSession.builder(), across src/ and tools/") {
    val files = Seq("src", "tools").flatMap { dir =>
      scala.util.Using.resource(Files.walk(Paths.get(dir)))(_.iterator.asScala.toList)
    }.filter(p => Seq(".scala", ".java", ".py", ".sh").exists(p.toString.endsWith))
      .map((p: Path) => p.toString -> Files.readAllLines(p, UTF_8).asScala.toSeq)
    assert(files.exists { case (f, lines) =>
      f.endsWith("/graft/GraftSession.scala") && lines.exists(_.contains(s"$token()"))
    }, "GraftSession.builder not found: wrong directory?")
    val found = offenders(files)
    assert(found.isEmpty, s"session built outside GraftSession; use GraftSession.builder:\n  ${found.mkString("\n  ")}")
  }

  test("the guard flags a hand-written session builder outside GraftSession") {
    val copy = Seq(
      "  lazy val session: SparkSession =",
      "    SparkSession.builder().master(\"local[4]\").getOrCreate()")
    assert(offenders(Seq("src/test/scala/graft/SparkSpec.scala" -> copy)).size === 1)
    assert(offenders(Seq("src/main/scala/graft/GraftSession.scala" -> copy)).isEmpty)
  }
}
