package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.TableStore
import graft.ext.{Dedup, TextOps}

/** `curate`: one corpus-curation batch per cycle over a seeded corpus
  * with planted duplicates. Signals and the Gopher gate, exact dedup,
  * MinHash near-duplicate pairs, then connected-component removal —
  * three TableStore commits per batch. Outputs are checked against the
  * generator's planted ground truth. */
final class Curate(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload(spark, tr, seed) {
  val name = "curate"
  val params = Gen.CorpusParams()
  // like `ann`, a run measures the first batch of the process, as a
  // curation job pays it: a warm-up batch and two timed ones took about
  // 20 s more per run than the run budget (70 runs in 3 420 s) holds
  val warmCycles = 0
  val minCycles = 1
  val stepSpans = Set("curate.signals", "curate.exact", "curate.near_pairs", "curate.near_cc")

  private var corpus: Gen.Corpus = _
  private var store: TableStore = _
  private var removedPlanted = 0L
  private var plantedSeen = 0L

  def setup(dir: String): Unit = {
    corpus = Gen.corpus(seed, params)
    store = new TableStore(spark, dir)
    val schema = StructType(Seq(StructField("id", LongType, false), StructField("text", StringType, false)))
    val rows = corpus.docs.map(d => Row(d.id, d.text))
    store.write("raw", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  private def ids(table: String): Seq[Long] =
    store.read(table).select(col("id")).collect().map(_.getLong(0)).toSeq

  def cycle(i: Int): Unit = {
    def t(s: String) = s"c${i}_$s"
    val lowQ = corpus.lowQuality
    val exactDups = corpus.exactGroups.flatMap(g => g.filterNot(_ == g.min)).toSet
    val clusterOf = corpus.clusters.zipWithIndex.flatMap { case (g, c) => g.map(_ -> c) }.toMap

    // 1. signals + quality gate
    tr.span("curate.signals") {
      val text = col("text")
      val sig = store.read("raw")
        .withColumn("norm", TextOps.normalize(text))
        .withColumn("gopher", TextOps.gopherQuality(text))
        .withColumn("quality", TextOps.qualityScore(text))
        .withColumn("lang", TextOps.langId(text))
        .filter(col("gopher.pass") === 1)
      tr.built()
      tr.span("curate.commit")(store.write(t("signals"), sig))
    }
    tr.span("curate.check") {
      val kept = ids(t("signals")).toSet
      check("signals: the Gopher gate keeps exactly the good docs")(
        kept == corpus.docs.map(_.id).toSet -- lowQ)
    }

    // 2. exact dedup on the normalized text
    tr.span("curate.exact") {
      val ex = Dedup.exact(store.read(t("signals")), Seq("norm"), "id")
      tr.built()
      tr.span("curate.commit")(store.write(t("exact"), ex))
    }
    tr.span("curate.check") {
      val kept = ids(t("exact"))
      check("exact: every exact duplicate is gone, every keeper stays")(
        kept.size == kept.distinct.size &&
          kept.toSet == corpus.docs.map(_.id).toSet -- lowQ -- exactDups)
    }

    // 3. MinHash near-duplicate pairs
    val (nd, pairs, nPairs) = tr.span("curate.near_pairs") {
      val nd = Dedup.minhashNearDupsReleasable(store.read(t("exact")), "id", "text")
      tr.built()
      val p = nd.result.select(col("a"), col("b")).persist(StorageLevel.MEMORY_AND_DISK)
      (nd, p, p.count())
    }
    tr.span("curate.check") {
      val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      check("near_pairs: every verified pair lies inside one planted cluster")(
        ps.length == nPairs && ps.forall { case (a, b) =>
          a < b && clusterOf.get(a).exists(c => clusterOf.get(b).contains(c)) })
    }
    if (tr.tracing) tr.span("curate.audit") {
      val docs = store.read(t("exact"))
      val cand = Dedup.lshCandidates(Dedup.minhashSignature(docs, "id", "text"), "id", 32, 8).count()
      layer("curate.near_pairs.candidate_pairs", cand.toDouble)
      layer("curate.near_pairs.verify_yield", if (cand == 0) 0.0 else nPairs.toDouble / cand)
    }

    // 4. connected components over the pairs, keep one doc per cluster
    tr.span("curate.near_cc") {
      val kept = Dedup.removeNearDuplicates(store.read(t("exact")), "id", pairs, "a", "b")
      tr.built()
      tr.span("curate.commit")(store.write(t("final"), kept))
      nd.release()
      pairs.unpersist()
    }
    tr.span("curate.check") {
      val kept = ids(t("final"))
      val ks = kept.toSet
      val groups = corpus.exactGroups ++ corpus.clusters
      val survivors = groups.map(_.count(ks))
      check("near_cc: no id twice, every cluster keeps a doc, unique docs all stay")(
        kept.size == ks.size && survivors.forall(_ >= 1) &&
          corpus.singletons.subsetOf(ks) && ks.intersect(lowQ).isEmpty &&
          ks.intersect(exactDups).isEmpty)
      removedPlanted += groups.zip(survivors).map { case (g, s) => g.size - s }.sum
      plantedSeen += corpus.plantedDuplicates
    }
  }

  override def resetCounts(): Unit = { removedPlanted = 0; plantedSeen = 0 }

  def generic(measured: Seq[Span]): Map[String, Double] = {
    val cycleS = perCycleS(measured, stepSpans)
    Map(
      "throughput_per_s" -> corpus.docs.size / cycleS,
      "quality_ratio" -> removedPlanted.toDouble / plantedSeen,
      "cycle_s" -> cycleS,
      "commit_ms" -> Stats.meanOfMedians(commitsByStep(measured)),
      "query_ms" -> Stats.median(walls(measured, "curate.near_pairs")))
  }

  /** Commit walls by the step that made them. */
  private def commitsByStep(measured: Seq[Span]): Seq[Seq[Double]] = {
    val nameOf = measured.map(s => s.id -> s.name).toMap
    measured.filter(_.name == "curate.commit").groupBy(c => nameOf(c.parent)).values.map(_.map(_.wallMs)).toSeq
  }

  val aliases = Seq(("docs_per_s", "throughput_per_s", "docs/s"), ("dup_recall", "quality_ratio", "ratio"))

  def report(measured: Seq[Span]): Seq[Metric] = Seq(
    Metric("docs", corpus.docs.size.toDouble, "count"),
    Metric("planted_dup_share", corpus.plantedDuplicates.toDouble / corpus.docs.size, "ratio"),
    Metric("low_quality_share", corpus.lowQuality.size.toDouble / corpus.docs.size, "ratio"),
    Metric("largest_cluster", corpus.clusters.map(_.size).max.toDouble, "docs"),
    Metric("cluster_p90_size", Stats.percentile(corpus.clusters.map(_.size.toDouble), 900), "docs"))
}
