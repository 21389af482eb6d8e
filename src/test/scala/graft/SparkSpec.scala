package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for operator specs, built by
  * [[GraftSession.builder]] like every engine entry point, so the whole
  * test JVM runs with its filesystem and code-cache settings.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override protected def afterAll(): Unit = super.afterAll()

  /** Call sites of the Spark jobs `body` launches from this thread and
    * from the threads it starts (a streaming query's execution thread,
    * an `overlap` leg), which inherit this thread's local properties. A
    * marker job, run last with the same tag, shows the listener has
    * seen everything before it.
    */
  protected def jobsOf(body: => Unit): Seq[String] = {
    val tag = s"spark-spec-jobs-${System.nanoTime}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty(SparkSpec.JobTag) == tag)
          seen.add(Option(e.properties.getProperty("spark.job.description")).filter(_.nonEmpty)
            .getOrElse(e.stageInfos.map(_.details.linesIterator.take(8).mkString(" <- ")).mkString))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SparkSpec.JobTag, tag)
      try {
        body
        sc.setJobDescription("marker")
        spark.range(1).collect()
      } finally {
        sc.setLocalProperty(SparkSpec.JobTag, null)
        sc.setJobDescription(null)
      }
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.contains("marker"), "listener never saw the marker job")
      seen.asScala.toSeq.filterNot(_ == "marker")
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val JobTag = "graft.spec.jobs"

  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
