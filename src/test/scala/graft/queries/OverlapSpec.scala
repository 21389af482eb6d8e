package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[StreamingQueries.overlap]] runs independent store writes side by
  * side; a failing leg must not return control while another leg is
  * still writing into its store directory (that write would land in
  * whatever runs next).
  */
class OverlapSpec extends AnyFunSuite {

  test("a failing leg is rethrown only after every other leg has finished") {
    val marker = Files.createTempDirectory("overlap-spec").resolve("leg-b")
    val e = intercept[IllegalStateException] {
      StreamingQueries.overlap(
        () => throw new IllegalStateException("leg A failed"),
        () => { Thread.sleep(500); Files.writeString(marker, "written") })
    }
    assert(e.getMessage === "leg A failed")
    assert(Files.exists(marker), "overlap rethrew while leg B was still running")
  }

  test("with several failures the first leg's exception wins") {
    val e = intercept[IllegalStateException] {
      StreamingQueries.overlap(
        () => { Thread.sleep(200); throw new IllegalStateException("first") },
        () => throw new IllegalStateException("second"))
    }
    assert(e.getMessage === "first")
  }
}
