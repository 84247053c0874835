package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --cores K`. Prints one line per metric, then
  * the result object as the last stdout line. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "quality_ratio" -> "ratio", "cycle_s" -> "s", "commit_ms" -> "ms",
    "query_ms" -> "ms")

  val CurateSpans = Seq("curate.signals", "curate.exact", "curate.near_pairs", "curate.near_cc")
  val CrudSpans = Seq("crud.get_table", "crud.get_point", "crud.get_range", "crud.raw_agg",
    "crud.upsert", "crud.update", "crud.delete")
  val AnnSpans = Seq("ann.train_books", "ann.build", "ann.save", "ann.search",
    "ann.append", "ann.forget", "ann.drift")
  private val SpanFields = Seq("wall_ms" -> "ms", "idle_ms" -> "ms", "jobs" -> "count",
    "task_cpu_ms" -> "ms", "shuffle_mb" -> "MB")
  val Counters: Seq[(String, String)] = Seq(
    "curate.near_pairs.candidate_pairs" -> "count", "curate.near_pairs.verify_yield" -> "ratio",
    "ann.search.candidates_per_query" -> "count", "crud.write.commit_ms" -> "ms",
    "crud.write.bytes_per_user_byte" -> "ratio", "crud.write.files_per_commit" -> "count",
    "crud.get_point.rows_scanned_per_row" -> "ratio", "crud.get_range.rows_scanned_per_row" -> "ratio",
    "spill_mb" -> "MB", "gc_ms" -> "ms", "leaked_rdds" -> "count", "cached_mb" -> "MB",
    "trace_overhead_ms" -> "ms", "jobs_attributed_frac" -> "ratio")

  /** Every per-layer metric, in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] =
    (CurateSpans ++ CrudSpans ++ AnnSpans).flatMap { s =>
      SpanFields.map { case (f, u) => s"$s.$f" -> u } ++
        (if (s.startsWith("crud.")) Seq(s"$s.plan_ms" -> "ms") else Seq(s"$s.build_ms" -> "ms"))
    } ++ Counters

  /** Set-ups per measured run; setup_s is their median. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traces: String, cores: Int)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("traces", need("work")), m.getOrElse("cores", "4").toInt)
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = System.nanoTime()
    val spark = session(a.work, a.cores)
    println(f"perfbench ${a.workload} session_s ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.3f s")
    try {
      val line = run(spark, a, jvmStart)
      Console.out.flush()
      println(line)
    } finally spark.stop()
  }

  private def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) Runtime.getRuntime.totalMemory / 1048576.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map(
      _.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).filter(_ > 0).sum

  def run(spark: SparkSession, a: Args, jvmStart: Long): String = {
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    val tr = new Tracer(spark, runId)
    val wl: Workload = a.workload match {
      case "curate" => new Curate(spark, tr, a.seed)
      case "crud" => new Crud(spark, tr, a.seed)
      case "ann" => new Ann(spark, tr, a.seed)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val deadline = jvmStart + 150L * 1000000000L
    def secs(since: Long) = (System.nanoTime() - since) / 1e9

    // set-up, several times, each into a fresh directory; the last one serves
    val setupS = (0 until (if (a.trace) 1 else Setups)).map { i =>
      val t0 = System.nanoTime()
      tr.span(s"${wl.name}.setup")(wl.setup(s"${a.work}/store$i"))
      secs(t0)
    }

    var cycleNo = 0
    def loop(phase: String, budgetS: Double, untilEnough: Boolean, atLeast: Int = 1): Unit = {
      tr.phase = phase
      val t0 = System.nanoTime()
      var streak = 0
      var n = 0
      def measured = tr.all.filter(_.phase == phase)
      while (n < atLeast || System.nanoTime() < deadline && streak < 2 &&
          (secs(t0) < budgetS || (untilEnough && !wl.enough(measured)))) {
        n += 1
        try { tr.span(s"${wl.name}.cycle")(wl.cycle(cycleNo)); streak = 0 }
        catch { case NonFatal(e) =>
          wl.attempted += 1; wl.failed += 1; streak += 1
          wl.failures += s"cycle $cycleNo threw ${e.getClass.getSimpleName}"
          e.printStackTrace()
        }
        cycleNo += 1
      }
      println(f"perfbench ${wl.name} ${phase}_s ${secs(t0)}%.3f s")
    }

    def finish(): Unit = {
      tr.phase = "finish"
      try wl.finish()
      catch { case NonFatal(e) =>
        wl.attempted += 1; wl.failed += 1
        wl.failures += s"final checks threw ${e.getClass.getSimpleName}"
        e.printStackTrace()
      }
    }

    // warm-up cycles: JIT, Spark's generated code and the file caches are
    // warm when measuring starts, as in a long-running application; a
    // traced run always warms up, so its untraced and traced cycles compare
    val warmUp = math.max(wl.warmCycles, if (a.trace) 1 else 0)
    if (warmUp > 0) loop("warmup", 0, untilEnough = false, atLeast = warmUp)
    wl.resetCounts()
    val out = scala.collection.mutable.ArrayBuffer.empty[Metric]
    if (!a.trace) {
      loop("measure", a.seconds, untilEnough = true)
      finish()
      val measured = tr.all.filter(_.phase == "measure")
      val g = wl.generic(measured) ++ Map("setup_s" -> Stats.median(setupS), "peak_rss_mb" -> peakRssMb())
      wl.cycles(measured).zipWithIndex.foreach { case (c, i) =>
        println(f"perfbench ${wl.name} cycle.$i ${wl.cycleMs(measured, c) / 1000.0}%.4f s") }
      wl.aliases.foreach { case (own, gated, u) => println(f"perfbench ${wl.name} $own ${g(gated)}%.6f $u") }
      wl.report(measured).foreach(m => println(f"perfbench ${wl.name} ${m.name} ${m.value}%.6f ${m.unit}"))
      out ++= EndToEnd.map { case (n, u) => Metric(n, g(n), u) }
    } else {
      loop("untraced", a.seconds / 2.0, untilEnough = false)
      tr.startTracing()
      val gc0 = gcMs()
      loop("traced", a.seconds / 2.0, untilEnough = false)
      val gc = gcMs() - gc0
      tr.stopTracing()
      finish()
      val layers = new Layers(tr, wl, spark.sparkContext)
      val vals = layers.metrics(gc)
      out ++= PerLayer.map { case (n, u) => Metric(n, vals.getOrElse(n, 0.0), u) }
      val file = new java.io.File(s"${a.traces}/$runId.jsonl")
      layers.writeTrace(file)
      println(s"perfbench ${wl.name} trace ${file.getCanonicalPath}")
    }
    println(f"perfbench ${wl.name} failed_frac ${wl.failed.toDouble / math.max(1, wl.attempted)}%.6f ratio")
    wl.failures.foreach(f => println(s"perfbench ${wl.name} FAILED $f"))
    out.foreach(m => println(s"perfbench ${wl.name} ${m.name} ${m.value} ${m.unit}"))
    Json.result(wl.failed == 0, math.max(1, wl.attempted), wl.failed, out.toSeq)
  }
}

/** Minimal JSON for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = obj(Seq(
    "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
    "metrics" -> obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))
}
