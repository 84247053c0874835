package graft.tools

import graft.{Session, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.Bridge
import scala.jdk.CollectionConverters._

/** Builder-side inspection of contract queries on SPARK_GRAFT_SF_DIR,
  * under the same session config as `graft.Bench` so what it shows is
  * the benched shape. `<names>` is `Verify`'s comma-separated name
  * filter.
  *  - `jobs <names>`: one warm run, then a census of the jobs one more
  *    run through the `noop` sink submits (a query whose cost is
  *    scheduling floor shows many short jobs; one whose cost is data
  *    shows few jobs owning the wall time) and of the classes it
  *    compiles (a warm run that still compiles is missing the
  *    generated-class cache).
  *  - `plan <round>/<suffix> <names>`: the formatted initial plan.
  *  - `final-plan <round>/<suffix> <names>`: the formatted plan after
  *    the query ran, the only place AQE's runtime decisions
  *    (ReusedExchange, AQEShuffleRead, join rewrites) are visible.
  * Plans land in `plans/<round>/<query>_<suffix>.txt`. */
object Probe {

  /** One job: its id, wall ms, result-stage name and task count. */
  final case class Job(id: Int, ms: Long, stage: String, tasks: Int)

  /** The jobs submitted while `body` runs, in id order. The listener bus
    * is drained before the listener is added (no earlier job's events
    * leak in) and before the jobs are read (none of `body`'s is
    * missed). */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    // until its end event arrives, a started job's `ms` holds its start time
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, Job(j.jobId, j.time,
          j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?"),
          j.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach(s => jobs.add(s.copy(ms = j.time - s.ms)))
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      Bridge.drainListenerBus(sc)
      (out, jobs.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }

  /** Janino compiles while a body ran: how many classes, and their
    * generated source bytes when known exactly (None once the process
    * has compiled more classes than the metric's reservoir keeps). */
  final case class Compiles(classes: Long, sourceBytes: Option[Long])

  /** The classes compiled while `body` runs, read from Spark's
    * `CodegenMetrics` source-size histogram (one sample per Janino
    * compile). The metric is this JVM's, so the session must be local:
    * a cluster's executors compile in their own JVMs. Source bytes are
    * the growth of the histogram's sample sum, exact while the
    * reservoir still holds every sample of the process. */
  def compilesDuring[T](spark: SparkSession)(body: => T): (T, Compiles) = {
    require(spark.sparkContext.isLocal,
      "compilesDuring reads this JVM's CodegenMetrics; a cluster session compiles on executors")
    val size = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    def sum: Long = size.getSnapshot.getValues.sum
    val (n0, b0) = (size.getCount, sum)
    val out = body
    val (n1, b1) = (size.getCount, sum)
    (out, Compiles(n1 - n0, Option.when(n1 <= ReservoirSize)(b1 - b0)))
  }

  /** Samples a Dropwizard `ExponentiallyDecayingReservoir` keeps. */
  private val ReservoirSize = 1028

  def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Runs THIS QueryExecution (a `.write` would plan its own), so the
    * adaptive plan it then explains is final. */
  def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    plan(df)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    lazy val spark = Session.local()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    args match {
      case Array("jobs", names) => SparkEntry.select(Some(names)).foreach { case (name, fn) =>
        noop(fn(spark, sfDir))
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val ((_, js), cg) = compilesDuring(spark)(jobsDuring(spark)(noop(fn(spark, sfDir))))
        println(f"[jobs] $name: ${js.size} jobs, ${(System.nanoTime() - t0) / 1e9}%.2f s wall, " +
          f"${js.map(_.ms).sum} ms summed job time, ${cg.classes} classes compiled " +
          s"(${cg.sourceBytes.fold("?")(_.toString)} source bytes)")
        js.foreach(j => println(f"[jobs]   job ${j.id}%4d ${j.ms}%7d ms  ${j.stage} [${j.tasks} tasks]"))
        spark.catalog.clearCache()
      }
      case Array(mode @ ("plan" | "final-plan"), roundSuffix, names) =>
        val Array(round, suffix) = roundSuffix.split("/")
        val dir = Files.createDirectories(Paths.get(s"plans/$round"))
        SparkEntry.select(Some(names)).foreach { case (name, fn) =>
          val text =
            try { val df = fn(spark, sfDir); if (mode == "plan") plan(df) else finalPlan(df) }
            catch { case e: Throwable => s"PLAN FAILED: $e" }
          Files.writeString(dir.resolve(s"${name}_$suffix.txt"), text)
          println(s"[$mode] wrote $name ($suffix): ${text.linesIterator.size} lines")
          spark.catalog.clearCache()
        }
      case _ =>
        System.err.println("usage: graft.tools.Probe jobs <names> | " +
          "plan <round>/<suffix> <names> | final-plan <round>/<suffix> <names>")
        sys.exit(2)
    }
    spark.stop()
  }
}
