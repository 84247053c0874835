package perfbench

import org.apache.spark.sql.SparkSession

/** A measured metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One closed-loop workload with a single client. `setup` makes the
  * seeded inputs under a fresh directory (it may run several times; the
  * last set-up is the one the loop uses); `cycle` runs one pass of the
  * workload's fixed step sequence inside spans and checks every output. */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val seed: Long) {
  def name: String
  def setup(dir: String): Unit
  def cycle(i: Int): Unit

  /** Checks of the state the measured cycles left behind, run once
    * after the loop and outside every timed span. */
  def finish(): Unit = ()

  /** Untimed warm-up cycles before the measured ones. */
  def warmCycles: Int

  /** Span names that make up one cycle's timed work. */
  def stepSpans: Set[String]

  /** Measured cycles a run holds at least. */
  def minCycles: Int

  /** Whether the measured spans hold enough samples to stop. */
  def enough(measured: Seq[Span]): Boolean = cycles(measured).size >= minCycles

  /** The gated end-to-end figures over the measured spans, by their
    * BENCHMARK.json names (all but `setup_s` and `peak_rss_mb`). */
  def generic(measured: Seq[Span]): Map[String, Double]

  /** The workload's own names for some gated figures, printed beside
    * them: (own name, gated name, unit). */
  def aliases: Seq[(String, String, String)]

  /** Figures that have no gated name (tails, planted shares), printed only. */
  def report(measured: Seq[Span]): Seq[Metric]

  /** Layer counters that need an extra audit pass (traced runs only). */
  val layerCounters = scala.collection.mutable.Map.empty[String, Seq[Double]]
  protected def layer(key: String, v: Double): Unit =
    layerCounters(key) = layerCounters.getOrElse(key, Nil) :+ v

  /** Clear workload-side tallies after the warm-up cycles. */
  def resetCounts(): Unit = ()

  var attempted = 0
  var failed = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; a false check is a failed operation. */
  protected def check(what: String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  def cycles(spans: Seq[Span]): Seq[Span] = spans.filter(_.name == s"$name.cycle")

  /** Timed wall of one cycle: the sum of its step spans. */
  def cycleMs(all: Seq[Span], cycle: Span): Double = {
    val ids = SpanMath.subtree(all, cycle.id)
    all.filter(s => ids(s.id) && stepSpans(s.name)).map(_.wallMs).sum
  }

  /** Median timed wall per measured cycle of the named spans, in seconds. */
  protected def perCycleS(measured: Seq[Span], names: Set[String]): Double =
    Stats.median(cycles(measured).map { c =>
      val ids = SpanMath.subtree(measured, c.id)
      measured.filter(s => ids(s.id) && names(s.name)).map(_.wallMs).sum / 1000.0
    })

  protected def walls(spans: Seq[Span], names: String*): Seq[Double] =
    spans.filter(s => names.contains(s.name)).map(_.wallMs)

  /** Walls of the named spans, grouped by name. */
  protected def wallsByName(spans: Seq[Span], names: String*): Seq[Seq[Double]] =
    spans.filter(s => names.contains(s.name)).groupBy(_.name).values.map(_.map(_.wallMs)).toSeq
}
