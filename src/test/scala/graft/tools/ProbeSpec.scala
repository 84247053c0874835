package graft.tools

import graft.{SparkEntry, SparkSpec}

class ProbeSpec extends SparkSpec {
  private def q01 = SparkEntry.queries("q01_count")(spark, sfDir)

  test("jobsDuring: the census of q01_count records its jobs with stage names and tasks") {
    val (_, jobs) = Probe.jobsDuring(spark)(q01.write.format("noop").mode("overwrite").save())
    assert(jobs.nonEmpty, "the listener recorded no job for q01_count")
    assert(jobs.forall(j => j.stage.nonEmpty && j.tasks > 0 && j.ms >= 0), jobs)
    assert(jobs.map(_.id) == jobs.map(_.id).sorted.distinct)
    // nothing runs in the body: nothing is recorded (no earlier job leaks in)
    assert(Probe.jobsDuring(spark)(())._2.isEmpty)
  }

  test("plan shows the physical plan; final-plan shows the adaptive plan after the run") {
    assert(Probe.plan(q01).contains("Physical Plan"))
    assert(Probe.finalPlan(q01).contains("isFinalPlan=true"))
  }
}
