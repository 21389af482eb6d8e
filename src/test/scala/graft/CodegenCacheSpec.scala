package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** A repeated query reuses its generated classes. Spark's code cache
  * holds 100 by default and is LRU; one run of these two replay
  * maintainers compiles more than that (about 175 classes), so each
  * repeat recompiled most of them with Janino. [[GraftSession]] sizes the
  * cache to the workload: the second run must compile at most 20 % as
  * many classes as the first.
  *
  * The runs happen in a new JVM, whose code cache starts empty: in the
  * shared test JVM earlier suites have already compiled some of these
  * classes, and the first run's count would depend on suite order.
  */
class CodegenCacheSpec extends AnyFunSuite {

  test("a second run of the replay maintainers compiles at most 20 % of the first's classes") {
    val log = Files.createTempFile("graft-codegen-cache", ".log")
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"), CodegenCacheSpec.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(10, TimeUnit.MINUTES)) {
      p.destroyForcibly()
      fail("the run did not finish in 10 minutes")
    }
    val out = Files.readAllLines(log).asScala
    Files.delete(log)
    val counts = out.collectFirst { case CodegenCacheSpec.Result(a, b) => (a.toLong, b.toLong) }
    assert(p.exitValue == 0 && counts.nonEmpty, out.takeRight(40).mkString("\n"))
    val (first, second) = counts.get
    info(s"first run compiled $first classes, the second $second")
    assert(first > 0, "the first run compiled nothing: metric not wired?")
    assert(second * 5 <= first, s"first run compiled $first classes, the second $second")
  }
}

object CodegenCacheSpec {
  private val Result = """codegen-cache compiles (\d+) (\d+)""".r

  /** Runs both queries to their results twice on sf0.001 and prints the
    * classes each run compiled.
    */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-codegen-cache", master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq("q_stream_kmv", "q_stream_tclose")
        .foreach(n => SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    println(s"codegen-cache compiles $first ${compiles()}")
    spark.stop()
  }
}
