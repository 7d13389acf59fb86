package graft

import java.nio.file.Files
import java.time.LocalDate

import graft.dq.Dashboard

/** Job budgets of the paper's pipeline: the runner's dims and star
  * publish in a reload of a populated warehouse, and the dashboard —
  * each counted with the same marker-job protocol as the cow write
  * budgets (`PoolStatsSpec`). */
class PipelineJobsSpec extends SparkSpec {

  test("job budget: a reload builds its dims in three jobs and publishes " +
    "its star in one, and every job carries a phase label") {
    val wh = Files.createTempDirectory("jobs_reload").toString
    PipelineRunner.run(spark, sf0001, wh,
      LocalDate.parse("2023-01-01"), LocalDate.parse("2023-12-31"))
    val jobs = jobDescriptions(PipelineRunner.run(spark, sf0001, wh,
      LocalDate.parse("2023-03-01"), LocalDate.parse("2023-08-31")))
    val dims = jobs.count(_.startsWith("runner: dim-"))
    val publish = jobs.count(_ == "runner: star-publish")
    // dims: the key aggregate's shuffle stage and its collect, and one
    // read of the previous version's four dims; publish: the fact write
    assert((dims, publish) === ((3, 1)),
      "the runner's dims or star publish launched a job its driver-side " +
        s"build does not need (all jobs: $jobs)")
    assert(jobs.forall(_.startsWith("runner: ")),
      s"a runner job has no phase label: $jobs")
  }

  test("job budget: Dashboard.render reads its history once") {
    val jobs = jobDescriptions(Dashboard.render(spark, sf0001))
    // the history's schema inference and the one lookback collect
    assert(jobs.size === 2, s"the dashboard launched more than its collect: $jobs")
    assert(jobs.forall(_ == "dashboard"), s"an unlabelled dashboard job: $jobs")
  }
}
