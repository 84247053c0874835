package perfbench

import org.apache.spark.SparkContext

/** Per-layer figures of a traced run: each named span's wall, idle
  * (wall minus the union of its jobs' intervals), jobs, task CPU,
  * shuffle, build and planning time, plus the layer counters. Values
  * are medians over the span's calls in the traced phase. */
final class Layers(tr: Tracer, wl: Workload, sc: SparkContext) {
  private val all = tr.all
  private val traced = all.filter(_.phase == "traced")
  private val jobs = tr.jobRecords
  private val spanIds = all.map(_.id).toSet
  private val jobSpan: Map[Int, Int] = jobs.flatMap(j => j.group.collect {
    case g if g.startsWith("perfbench-") && spanIds(g.stripPrefix("perfbench-").toInt) =>
      j.jobId -> g.stripPrefix("perfbench-").toInt
  }).toMap
  // a stage's tasks run once, in the first job that lists it
  private val stagesOfJob: Map[Int, Seq[Int]] = jobs.sortBy(_.jobId)
    .flatMap(j => j.stages.map(_ -> j.jobId)).groupBy(_._1)
    .map { case (st, owners) => owners.head._2 -> st }.toSeq.groupBy(_._1)
    .map { case (j, xs) => j -> xs.map(_._2) }
  private def subtree(id: Int): Set[Int] = SpanMath.subtree(all, id)
  private val planOwner: Seq[(Int, Long)] = tr.planEvents.flatMap { case (t, d) =>
    SpanMath.innermostAt(traced, t).map(s => s.id -> d)
  }

  private final case class Cost(jobs: Seq[JobRec], cpuMs: Double, shuffleMb: Double,
      spillMb: Double, recordsRead: Long)

  private def cost(js: Seq[JobRec]): Cost = {
    val aggs = js.flatMap(j => stagesOfJob.getOrElse(j.jobId, Nil)).flatMap(tr.stageAgg)
    Cost(js, aggs.map(_.cpuNs).sum / 1e6, aggs.map(_.shuffleWrite).sum / 1e6,
      aggs.map(_.spillDisk).sum / 1e6, aggs.map(_.recordsRead).sum)
  }

  private def jobsOf(s: Span): Seq[JobRec] = {
    val ids = subtree(s.id)
    jobs.filter(j => jobSpan.get(j.jobId).exists(ids))
  }

  def idleMs(s: Span): Double = math.max(0.0,
    s.wallMs - SpanMath.unionLength(jobsOf(s).map(j => (j.startMs, j.endMs)), s.startMs, s.endMs))

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def cycles(phase: String): Seq[Double] =
    all.filter(s => s.phase == phase && s.name == s"${wl.name}.cycle").map(c => wl.cycleMs(all, c))

  def metrics(gcMs: Long): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double]
    (Main.CurateSpans ++ Main.CrudSpans ++ Main.AnnSpans).foreach { n =>
      val inst = traced.filter(_.name == n)
      if (inst.nonEmpty) {
        val cs = inst.map(s => s -> cost(jobsOf(s)))
        m(s"$n.wall_ms") = med(inst.map(_.wallMs))
        m(s"$n.idle_ms") = med(inst.map(idleMs))
        m(s"$n.jobs") = med(cs.map(_._2.jobs.size.toDouble))
        m(s"$n.task_cpu_ms") = med(cs.map(_._2.cpuMs))
        m(s"$n.shuffle_mb") = med(cs.map(_._2.shuffleMb))
        if (n.startsWith("crud.")) m(s"$n.plan_ms") = med(inst.map { s =>
          val ids = subtree(s.id); planOwner.filter(p => ids(p._1)).map(_._2.toDouble).sum
        })
        else m(s"$n.build_ms") = med(inst.map(_.buildMs))
      }
    }
    val writes = traced.filter(s => Set("crud.upsert", "crud.update", "crud.delete")(s.name))
    if (writes.nonEmpty) {
      // from the last job that ended before the call under test returned
      // (an upsert returns a lazy key frame, collected after the commit)
      m("crud.write.commit_ms") = med(writes.flatMap(s =>
        SpanMath.sinceLastJob(jobsOf(s).map(_.endMs), if (s.builtMs >= 0) s.builtMs else s.endMs)))
      m("crud.write.bytes_per_user_byte") = med(writes.flatMap(_.counters.get("bytes_per_user_byte")))
      m("crud.write.files_per_commit") = med(writes.flatMap(_.counters.get("files")))
    }
    Seq("crud.get_point", "crud.get_range").foreach { n =>
      val inst = traced.filter(_.name == n)
      if (inst.nonEmpty) m(s"$n.rows_scanned_per_row") = med(inst.map(s =>
        cost(jobsOf(s)).recordsRead.toDouble / math.max(1.0, s.counters.getOrElse("rows", 0.0))))
    }
    wl.layerCounters.foreach { case (k, vs) => m(k) = med(vs) }
    val nCycles = math.max(1, cycles("traced").size)
    m("spill_mb") = cost(jobs).spillMb / nCycles
    m("gc_ms") = gcMs.toDouble / nCycles
    m("leaked_rdds") = sc.getPersistentRDDs.size.toDouble
    m("cached_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    m("trace_overhead_ms") = med(cycles("traced")) - med(cycles("untraced"))
    m("jobs_attributed_frac") = if (jobs.isEmpty) 0.0 else jobSpan.size.toDouble / jobs.size
    m.toMap
  }

  /** One JSON line per span (name, start, end, parent, run id, self
    * time; jobs and idle time for traced spans), then a summary line. */
  def writeTrace(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val self = SpanMath.selfTimes(all)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      all.foreach { s =>
        val traced = s.phase == "traced"
        w.println(Json.obj(Seq(
          "run" -> Json.str(tr.runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
          "parent" -> (if (s.parent < 0) "null" else s.parent.toString),
          "phase" -> Json.str(s.phase), "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "wall_ms" -> Json.num(s.wallMs), "self_ms" -> Json.num(self(s.id)),
          "jobs" -> (if (traced) jobsOf(s).size.toString else "null"),
          "idle_ms" -> (if (traced) Json.num(idleMs(s)) else "null"),
          "persistent_rdds_after" -> (if (traced) s.rddsAfter.toString else "null"))))
      }
      w.println(Json.obj(Seq("run" -> Json.str(tr.runId), "summary" -> Json.obj(Seq(
        "jobs" -> jobs.size.toString, "jobs_attributed" -> jobSpan.size.toString,
        "traced_cycle_ms" -> Json.num(med(cycles("traced"))),
        "untraced_cycle_ms" -> Json.num(med(cycles("untraced"))))))))
    } finally w.close()
  }
}
