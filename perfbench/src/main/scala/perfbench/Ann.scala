package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.TableStore
import graft.ext.Similarity

/** `ann`: the IVF-PQ index lifecycle on seeded clustered embeddings.
  * Per cycle: train codebooks, build, save, load, batched search,
  * append a delta, forget ids, and the recall-drift probe — on a fresh
  * index name, so every cycle does the same work. Searches are checked
  * against a plain-JVM brute-force top-10. */
final class Ann(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload(spark, tr, seed) {
  val name = "ann"
  val params = Gen.AnnParams()
  val k = 10
  val nprobe = 4
  val shortlist = 50
  val centroids = 16
  val batch = 50
  // a lifecycle is ~130 Spark jobs of mostly driver work; an untimed
  // warm-up lifecycle would add about 30 s per run, more than the run
  // budget (70 runs in 3 420 s) holds, so a run measures the first
  // lifecycle of the process, as a batch job that builds and maintains
  // one index pays it
  val warmCycles = 0
  val minCycles = 1
  val stepSpans = Set("ann.train_books", "ann.build", "ann.save", "ann.load",
    "ann.search", "ann.append", "ann.forget", "ann.drift")

  private var data: Gen.AnnData = _
  private var store: TableStore = _
  private var batches: Seq[(DataFrame, IndexedSeq[(Long, Array[Double])])] = _
  private var forgetQueries: DataFrame = _
  private var truth: Map[Long, Seq[Long]] = _
  private var vecs: Map[Long, Array[Double]] = _
  private var hits = 0L
  private var asked = 0L
  private var lastIndex = ""

  private val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("vec", ArrayType(DoubleType, false), false)))

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v.toSeq) }: _*), schema)

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val (x, y) = (unit(a), unit(b)); x.indices.map(i => x(i) * y(i)).sum
  }

  def setup(dir: String): Unit = {
    data = Gen.ann(seed, params)
    store = new TableStore(spark, dir)
    store.write("corpus", frame(data.corpus))
    store.write("delta", frame(data.delta))
    batches = data.queries.grouped(batch).map(q => (frame(q), q)).toSeq
    vecs = (data.corpus ++ data.delta).toMap
    forgetQueries = frame(data.forget.map(i => (i, vecs(i))))
    // exact top-k by cosine, ties by id, on the plain JVM
    val normed = data.corpus.map { case (i, v) => (i, unit(v)) }
    truth = data.queries.map { case (q, v) =>
      val u = unit(v)
      q -> normed.map { case (i, c) => (i, u.indices.map(j => u(j) * c(j)).sum) }
        .sortBy { case (i, s) => (-s, i) }.take(k).map(_._1)
    }.toMap
  }

  def cycle(i: Int): Unit = {
    val idxName = s"idx$i"
    val corpus = store.read("corpus")
    val books = tr.span("ann.train_books") {
      val b = Similarity.pqTrainBooks(corpus, "id", "vec", params.dim); tr.built(); b
    }
    val built = tr.span("ann.build") {
      val ix = Similarity.ivfPqBuild(corpus, "id", "vec", centroids, books); tr.built(); ix
    }
    tr.span("ann.save") { Similarity.saveIvfPq(built, store, idxName); tr.built(); built.unpersist() }
    val index = tr.span("ann.load") { val ix = Similarity.loadIvfPq(store, idxName); tr.built(); ix }
    tr.span("ann.check") {
      check("save/load: manifest v0 names the first triple and holds the corpus")(
        Similarity.ivfPqManifest(store, idxName) == ((0, 0, 0)) &&
          index.encoded.count() == data.corpus.size)
    }

    batches.foreach { case (qdf, qs) =>
      val res = tr.span("ann.search") {
        val df = Similarity.ivfPqSearch(index, corpus, "id", "vec", qdf, "id", "vec", k, nprobe, shortlist)
        tr.built()
        df.select("query_id", "nn_id", "cosine", "rank").collect()
      }
      val byQ = res.groupBy(_.getLong(0))
      val ok = qs.forall { case (q, v) =>
        val rs = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(3))
        val nn = rs.map(_.getLong(1))
        val sc = rs.map(_.getDouble(2))
        rs.length == k && nn.distinct.length == k && rs.map(_.getInt(3)).toSeq == (1 to k) &&
          nn.forall(vecs.contains) && sc.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
          nn.zip(sc).forall { case (n, s) => math.abs(cos(v, vecs(n)) - s) < 1e-9 }
      }
      check("search: k exact-cosine neighbours per query, ranked")(ok)
      qs.foreach { case (q, _) =>
        hits += byQ.getOrElse(q, Array.empty[Row]).map(_.getLong(1)).toSet.intersect(truth(q).toSet).size
        asked += k
      }
    }
    if (tr.tracing) tr.span("ann.audit") {
      // candidates a query scores = the corpus rows in its nprobe nearest buckets
      val cents = index.centroids.collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      val sizes = index.encoded.groupBy("centroid_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val per = data.queries.map { case (_, v) =>
        cents.sortBy { case (c, cv) => (-v.indices.map(j => v(j) * cv(j)).sum, c) }
          .take(nprobe).map(c => sizes.getOrElse(c._1, 0L)).sum.toDouble
      }
      layer("ann.search.candidates_per_query", per.sum / per.size)
    }

    tr.span("ann.append") {
      Similarity.appendIvfPq(store, idxName, store.read("delta"), "id", "vec"); tr.built()
    }
    val removed = tr.span("ann.forget") {
      val n = Similarity.forgetFromIvfPq(store, idxName, col("__id").isin(data.forget: _*)); tr.built(); n
    }
    // the forgotten ids sit in both encoded versions (save and append)
    check("forget: every forgotten id leaves both index versions")(removed == 2L * data.forget.size)
    val drift = tr.span("ann.drift") {
      val d = Similarity.ivfPqRecallDrift(store, idxName, corpus.union(store.read("delta")),
        "id", "vec", k, nprobe, shortlist = shortlist); tr.built()
      d.collect()
    }
    check("drift: one verdict per manifest version")(drift.length == 3 &&
      drift.forall(r => r.getLong(1) > 0 && r.getLong(2) >= 0 && r.getLong(2) <= 1000000))
    lastIndex = idxName
  }

  /** A search of the last measured index after its forget, outside the timed cycles. */
  override def finish(): Unit = {
    val corpus = store.read("corpus")
    tr.span("ann.check") {
      val after = Similarity.loadIvfPq(store, lastIndex)
      val got = Similarity.ivfPqSearch(after, corpus.union(store.read("delta")), "id", "vec",
        forgetQueries, "id", "vec", k, nprobe, shortlist).select("nn_id").collect().map(_.getLong(0))
      check("forget: a later search never returns a forgotten id")(
        got.nonEmpty && got.toSet.intersect(data.forget.toSet).isEmpty)
    }
  }

  override def resetCounts(): Unit = { hits = 0; asked = 0 }

  def generic(measured: Seq[Span]): Map[String, Double] = {
    val searchMs = Stats.median(walls(measured, "ann.search"))
    Map(
      "throughput_per_s" -> batch / (searchMs / 1000.0),
      "quality_ratio" -> hits.toDouble / asked,
      "cycle_s" -> perCycleS(measured, stepSpans),
      "commit_ms" -> Stats.meanOfMedians(wallsByName(measured, "ann.save", "ann.append", "ann.forget")),
      "query_ms" -> searchMs)
  }

  val aliases = Seq(("search_qps", "throughput_per_s", "1/s"), ("recall_at_10", "quality_ratio", "ratio"))

  def report(measured: Seq[Span]): Seq[Metric] = Seq(
    Metric("build_s", perCycleS(measured, Set("ann.train_books", "ann.build", "ann.save")), "s"),
    Metric("maint_s", perCycleS(measured, Set("ann.append", "ann.forget", "ann.drift")), "s"),
    Metric("corpus_vectors", data.corpus.size.toDouble, "count"),
    Metric("queries", data.queries.size.toDouble, "count"))
}
