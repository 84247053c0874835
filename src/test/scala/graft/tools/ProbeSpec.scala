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

  test("compilesDuring: a new plan compiles classes with their source bytes; the same plan again compiles none") {
    import org.apache.spark.sql.functions.{col, lit}
    // a literal no other test uses: primitive literals are inlined in
    // the generated source, so this projection cannot hit the cache
    def run() = spark.range(5).select((col("id") * lit(7919013L)).as("x")).collect()
    val (_, first) = Probe.compilesDuring(spark)(run())
    assert(first.classes >= 1, first)
    assert(first.sourceBytes.forall(_ > 0), first)
    assert(first.compileMs.forall(_ >= 0), first)
    val again = Probe.compilesDuring(spark)(run())._2
    assert(again.classes == 0 && again.sourceBytes.forall(_ == 0) && again.compileMs.forall(_ == 0), again)
  }

  test("plan shows the physical plan; final-plan shows the adaptive plan after the run") {
    assert(Probe.plan(q01).contains("Physical Plan"))
    assert(Probe.finalPlan(q01).contains("isFinalPlan=true"))
  }
}
