package graft

import java.nio.file.Files

/** `graft.Dev` on the shared suite session: plan files per query, the
  * fatal unknown-name rule, and a trace whose jobs are its job group's. */
class DevSpec extends SparkSpec {
  test("plan writes one non-empty plan file per listed query") {
    val dir = Files.createTempDirectory("graft_dev_plan")
    val failed = Dev.plan(spark, "q03_join_revenue,q17_fill_previous", sf,
      Some((dir.toString, "t")))
    assert(failed.isEmpty)
    Seq("q03_join_revenue", "q17_fill_previous").foreach { q =>
      val f = dir.resolve(s"${q}_t.txt")
      assert(Files.exists(f) && Files.size(f) > 0, q)
    }
    assert(dir.toFile.list().length == 2)
  }

  test("an unknown query name fails") {
    val e = intercept[IllegalArgumentException](
      Dev.plan(spark, "q03_join_revenue,q00_nope", sf, None))
    assert(e.getMessage.contains("q00_nope"))
    intercept[IllegalArgumentException](Dev.trace(spark, "q00_nope", sf))
  }

  test("trace reports the jobs of its group with their stages") {
    val Seq(t) = Dev.trace(spark, "q03_join_revenue", sf)
    assert(t.jobs.nonEmpty)
    assert(t.jobs.length ==
      spark.sparkContext.statusTracker.getJobIdsForGroup(t.group).length)
    val stages = t.jobs.flatMap(_.stages)
    assert(stages.nonEmpty && stages.forall(_.tasks > 0))
    assert(t.buildS >= 0 && t.planS >= 0 && t.execS > 0)
  }
}
