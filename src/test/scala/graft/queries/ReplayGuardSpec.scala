package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the replay skeleton and the store contract in one place.
  * Outside [[StreamingQueries.replay]], `StreamingQueries.scala` may
  * spell `option("maxFilesPerTrigger", "1")` or `Trigger.AvailableNow()`
  * only inside the functions exempted below by name — each drives a
  * stream that is not a staged-parts + `foreachBatch` replay. A
  * maintainer that hand-writes the skeleton again fails this spec; it
  * belongs on `replay`. Likewise `write.mode("append")` into a shared
  * directory is not retry-idempotent; per-batch output belongs on a
  * [[graft.streaming.DeltaStore]]. And a replay whose one store
  * sum-merges each batch belongs on `sumMaintained`.
  */
class ReplayGuardSpec extends AnyFunSuite {

  private val skeletonExempt = Map(
    "replay" -> "the one home of the replay skeleton",
    "runToTable" -> "memory sink, not foreachBatch",
    "streamFileSink" -> "parquet file sink with its own checkpoint",
    "streamAggOfAgg" -> "upsert sink over a range-partitioned source",
    "streamTimeTravel" -> "upsert sink, read back as of each batch",
    "streamSqlDedup" -> "runs through RankSql, not foreachBatch",
    "streamSqlTopn" -> "runs through RankSql, not foreachBatch",
    "streamRules" -> "goes through BroadcastState.withBatchRules")

  private val appendExempt = Map.empty[String, String]

  private val sumMergeExempt = Map(
    "sumMaintained" -> "the one home of the single-store sum-merge replay",
    "streamBoilerplate" -> "the merge overlaps a second store's append in each batch",
    "streamQueryable" -> "each batch also publishes its version and appends the client's probes",
    "streamBootstrap" -> "its seed is the offline aggregate of the first split, not an empty part")

  /** Each token with the members allowed to spell it. */
  private val tokens = Seq(
    """option("maxFilesPerTrigger", "1")""" -> skeletonExempt,
    "Trigger.AvailableNow()" -> skeletonExempt,
    """write.mode("append")""" -> appendExempt,
    "store.write(batchId, store.sumMerge(batchId" -> sumMergeExempt)
  private val Member = """^  (?:private(?:\[\w+\])? )?(?:lazy )?(?:def|val) (\w+).*""".r

  /** Lines carrying a token outside a top-level member exempt from it. */
  private def offenders(lines: Seq[String]): Seq[String] = {
    var member = ""
    lines.zipWithIndex.flatMap { case (line, i) =>
      line match {
        case Member(name) => member = name
        case _ => ()
      }
      if (tokens.exists { case (t, exempt) => line.contains(t) && !exempt.contains(member) })
        Some(s"line ${i + 1} (in $member): ${line.trim}")
      else None
    }
  }

  test("StreamingQueries spells the replay skeleton only inside replay and the exempt streams") {
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/queries/StreamingQueries.scala"), UTF_8).asScala.toSeq
    assert(lines.exists(_.contains("def replay(")), "replay not found: wrong file?")
    val found = offenders(lines)
    assert(found.isEmpty,
      s"hand-written replay skeleton, append or sum-merge replay; use replay / DeltaStore / " +
        s"sumMaintained:\n  ${found.mkString("\n  ")}")
  }

  test("the guard flags a hand-written copy in a non-exempt maintainer") {
    val copy = Seq(
      "  def streamCopy(s: SparkSession, dir: String): DataFrame = {",
      "    s.readStream.schema(ev.schema)",
      "      .option(\"maxFilesPerTrigger\", \"1\").parquet(srcDir)",
      "      .trigger(Trigger.AvailableNow())",
      "    out.coalesce(1).write.mode(\"append\").parquet(resDir)",
      "    store.write(batchId, store.sumMerge(batchId, own, \"k\"))",
      "  }")
    assert(offenders(copy).size === 4)
  }
}
