package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extension-injected functions must resolve in a session that
  * never called GraftFunctions.register — the SQL-only deployment path.
  *
  * Session hygiene: extensions apply only at session CREATION, so the
  * default session is cleared first; getOrCreate then builds a fresh
  * SparkSession over the already-running SparkContext. The new session
  * is NOT stopped (that would kill the context shared with every other
  * suite) — the previous default/active sessions are restored instead.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  test("spark.sql.extensions session resolves graft functions from SQL") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // withExtensions, not config("spark.sql.extensions", ...):
      // the config form is STATIC and ignored when the builder reuses an
      // already-running SparkContext (as in a shared test JVM); the
      // programmatic hook exercises the identical injection logic
      val s = GraftSession.builder("graft-ext-test", master = "local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s.sql(
        "SELECT hash_code('abc') h, cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) c").head()
      assert(r.getInt(0) === "abc".hashCode)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
