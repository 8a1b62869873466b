package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structural job budgets: the Spark jobs one warm execution of a query
  * starts — eager jobs run while the query is built, plus its `count()`.
  * Job counts do not move with host load at fixed data and config, so a
  * change that adds jobs fails here on any host, the way
  * `shuffle_budget.tsv` catches added exchanges.
  *
  * `src/test/resources/job_budget.tsv` pins the five queries of the
  * benchmark's `board_sf01` slice. The pins are one-sided (`<=`); lower a
  * pin when a change removes jobs. Each query runs once to warm the
  * memos and caches, then three measured times in a session of the
  * shared test context. The Inference stages it reads are context-scoped
  * `Memo` entries, persisted again if another suite released them, so
  * the warm-up always refills them. The filled entries are released
  * afterwards through `Memo.release`: the cache manager is shared by
  * every session, and a filled entry changes how the plans that read it
  * print, which PlanGuardSpec's shuffle counts key on.
  */
class JobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val budget: Seq[(String, Int)] = budgetTsv("/job_budget.tsv")

  private lazy val session = spark.newSession()

  override def afterAll(): Unit =
    try Memo.release(session)
    finally super.afterAll()

  test("job budget file names only declared queries") {
    val dead = budget.map(_._1).toSet -- SparkEntry.specs.map(_.name)
    assert(dead.isEmpty, s"job_budget.tsv rows with no declared query: $dead")
  }

  for ((name, pin) <- budget)
    test(s"job budget: $name") {
      def run(): Int = jobsRunBy(SparkEntry.queries(name)(session, sf).count())
      run()
      val jobs = Seq.fill(3)(run())
      assert(jobs.max <= pin,
        s"$name starts $jobs jobs per warm execution, budget is $pin — a " +
          "job regression. Remove the jobs, or if they are intended, " +
          "re-pin src/test/resources/job_budget.tsv")
    }
}
