package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job census for individual contract queries (not part of the driver
  * contract): `runMain graft.tools.JobCount q259_cc_distributed[,more]`
  * — runs each query once warm, then once instrumented through the
  * noop sink with a SparkListener counting the jobs it submits and
  * their wall ms. The evidence tool for jobs-per-query /
  * jobs-per-round claims in optimization rounds (a query whose cost
  * is scheduling floor shows many short jobs; one whose cost is data
  * shows few jobs owning the wall time). Same session config as
  * graft.Bench so the census matches the benched shape. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    @volatile var jobs = List.empty[(Int, Long, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the job's result stage name + total task count tell WHICH
        // action/stage tree a slow job belongs to
        val tag = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("?") + s" [${j.stageInfos.map(_.numTasks).sum} tasks]"
        starts(j.jobId) = (j.time, tag)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, tag) =>
          jobs ::= ((j.jobId, j.time - t0, tag)) }
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).write.format("noop").mode("overwrite").save() // warm
      spark.catalog.clearCache()
      spark.sparkContext.addSparkListener(listener)
      jobs = Nil
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: read only after it has delivered
      // every job-end event the run posted
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.sortBy(_._1)
      println(f"[jobs] $name: ${js.size} jobs, ${s}%.2f s wall, " +
        f"${js.map(_._2).sum} ms summed job time")
      js.foreach { case (id, ms, tag) =>
        println(f"[jobs]   job $id%4d $ms%7d ms  $tag") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
