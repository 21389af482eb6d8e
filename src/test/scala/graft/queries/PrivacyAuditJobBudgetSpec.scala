package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}

/** Job budget of the two streaming privacy audits. Each replay batch
  * merges its raw rows into the two stores with one aggregate apiece,
  * and the end-of-stream tail builds the per-user profile with one
  * user-keyed aggregate over both stores and solves t-closeness with
  * window sums in one partition. A second exchange per merge or per
  * profile, or the group × class cross joins back in the tail, takes a
  * query over its budget.
  *
  * The counts are every Spark job a run launches at sf0.001, fixture
  * staging and the result collect included. The events schema is read
  * first, outside the count: the JVM's first read of a file infers its
  * schema in a job of its own, and whether that already happened
  * depends on which suites ran before.
  */
class PrivacyAuditJobBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val budgets = Seq("q_stream_kanon" -> 20, "q_stream_tclose" -> 18)

  for ((name, budget) <- budgets)
    test(s"$name runs at most $budget Spark jobs") {
      Tables.events(spark, dir)
      val jobs = jobsOf(SparkEntry.queries(name)(spark, dir).collect())
      info(s"$name: ${jobs.size} jobs")
      assert(jobs.size <= budget, jobs.mkString(s"$name ran ${jobs.size} jobs:\n  ", "\n  ", ""))
    }
}
