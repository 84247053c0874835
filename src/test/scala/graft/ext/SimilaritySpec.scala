package graft.ext

import graft.SparkSpec
import graft.core.Fx
import graft.functions.{AdcTable, IvfPqConsts}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------ composed search references
  // The join-and-aggregate forms the driver-planned searches replaced:
  // probes by a top-k aggregate re-joined to the queries, the ADC sum
  // as m `element_at` lookups over a broadcast join, and the rerank as
  // two broadcast joins and a `graft_dot`. The searches must equal
  // them row for row.

  private def composedQueries(queries: DataFrame, qIdCol: String, qVecCol: String) =
    queries.select(col(qIdCol).as("query_id"),
      Similarity.l2Normalize(col(qVecCol).cast("array<double>")).as("__qv"))

  private def composedProbes(q: DataFrame, centroids: DataFrame, nprobe: Int) =
    Similarity.topKPerQuery(q.crossJoin(broadcast(centroids))
        .withColumn("__csim", Similarity.dot(col("__qv"), col("__cv"))),
      col("centroid_id"), col("__csim"), "__csim", nprobe)
      .select(col("query_id"), col("nn_id").cast("int").as("centroid_id"))
      .join(q, Seq("query_id"))

  private def composedRerank(cand: DataFrame, q: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int) = {
    val c = corpus.select(col(idCol).as("nn_id"),
      Similarity.l2Normalize(col(vecCol).cast("array<double>")).as("__cv"))
    Similarity.topKPerQuery(c.join(broadcast(cand), Seq("nn_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cosine", Similarity.dot(col("__cv"), col("__qv"))),
      col("nn_id"), col("cosine"), "cosine", k)
  }

  private def composedIvfPqSearch(index: Similarity.IvfPqIndex, corpus: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val books = index.books
    val q = composedQueries(queries, qIdCol, qVecCol)
    val table = AdcTable.column(col("__qv"), spark.sparkContext.broadcast(
      IvfPqConsts(Nil, books.books, books.halfNormSq, books.ds)))
    val probes = composedProbes(q, index.centroids, nprobe)
      .select(col("query_id"), col("centroid_id"), table.as("__T"))
    val scored = index.encoded.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("__adc", Similarity.adcSum(books.m))
    val cand = Similarity.topKPerQuery(scored, col("__id"), col("__adc"), "__adc", shortlist)
      .select(col("query_id"), col("nn_id"))
    composedRerank(cand, q, corpus, idCol, vecCol, k)
  }

  private def composedPqSearchRerank(encoded: DataFrame, encIdCol: String,
      books: Similarity.PqBooks, corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int, shortlist: Int) = {
    val cand = Similarity.pqSearch(encoded, encIdCol, books, queries, qIdCol, qVecCol, shortlist)
      .select(col("query_id"), col("nn_id"))
    composedRerank(cand, composedQueries(queries, qIdCol, qVecCol), corpus, idCol, vecCol, k)
  }

  private def composedIvfSearch(index: Similarity.IvfIndex, queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, nprobe: Int) = {
    val probes = composedProbes(composedQueries(queries, qIdCol, qVecCol),
      index.centroids, nprobe).select(col("query_id"), col("__qv"), col("centroid_id"))
    Similarity.topKPerQuery(index.assigned.join(broadcast(probes), Seq("centroid_id"))
        .withColumn("cosine", Similarity.dot(col("__qv"), col("__v"))),
      col("__id"), col("cosine"), "cosine", k)
  }

  /** (query_id, nn_id, score bits, rank): NaN and -0.0 compare exactly. */
  private def ranked(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3))).toSet

  private def withConf[T](kvs: (String, String)*)(body: => T): T =
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kvs.foreach { case (k, _) => spark.conf.unset(k) }

  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** The error conditions along a failure's cause chain. */
  private def conditions(body: => Any): Seq[String] = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collect {
      case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
    }.toSeq
  }

  // A hand-made IVF-PQ index over 4-dim vectors: m = 2 subspaces ×
  // ksub = 3 codes (code 2 of subspace 0 duplicates code 0), four
  // centroids of which 1 and 2 coincide (a probe tie) and 3 holds no
  // rows (a probed empty bucket). Codes are chosen, not encoded: ids
  // 2/3 share codes (an ADC tie) and vectors (a rerank tie); 9–14
  // and 17 carry a null code, an out-of-range code, a negative code
  // (index -1: the last entry), a short code array, null codes,
  // Int.MaxValue (+1 overflows) and -1 (index 0); 15/16 sit in a
  // bucket no centroid has and in a null bucket.
  private val synthBooks = Similarity.PqBooks(4, 2, 3, Array(
    Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0)),
    Array(Array(0.0, 0.0), Array(-1.0, 0.5), Array(0.5, 0.5))))
  // fail element_at or + 1 under ANSI; without ANSI, 14's index wraps
  // to Int.MinValue, which both forms read as null (element_at itself
  // would read out of bounds with it), and 17's index 0 fails in both
  // modes
  private val ansiErrors = Map(10L -> "INVALID_ARRAY_INDEX_IN_ELEMENT_AT",
    12L -> "INVALID_ARRAY_INDEX_IN_ELEMENT_AT", 14L -> "ARITHMETIC_OVERFLOW",
    17L -> "INVALID_INDEX_OF_ZERO")

  private def vecFrame(rows: Seq[(Long, Option[Seq[Option[Double]]])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, v) =>
      Row(i, v.map(_.map(_.map(Double.box).orNull)).orNull) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType)))))

  private def full(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Some(_)))

  private lazy val synthEncoded: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Seq[(Long, Integer, Seq[Integer])](
      (1L, 0, Seq(0, 1)), (2L, 0, Seq(1, 2)), (3L, 0, Seq(1, 2)), (4L, 1, Seq(2, 0)),
      (5L, 1, Seq(0, 0)), (6L, 2, Seq(1, 1)), (7L, 2, Seq(0, 2)), (8L, 0, Seq(2, 2)),
      (9L, 0, Seq(null, 1)), (10L, 1, Seq(5, 0)), (11L, 2, Seq(-2, 0)),
      (12L, 0, Seq(0)), (13L, 1, null), (14L, 2, Seq(Int.MaxValue, 0)),
      (15L, 99, Seq(0, 0)), (16L, null, Seq(0, 0)), (17L, 1, Seq(-1, 0))
    ).map { case (i, c, codes) => Row(i, c, codes) }: _*),
    StructType(Seq(StructField("__id", LongType), StructField("centroid_id", IntegerType),
      StructField("codes", ArrayType(IntegerType)))))

  private lazy val synthIndex = Similarity.IvfPqIndex(synthEncoded,
    Seq((0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)),
      (2, Seq(0.0, 1.0, 0.0, 0.0)), (3, Seq(0.0, 0.0, 0.0, 1.0))).toDF("centroid_id", "__cv"),
    synthBooks)
  private def indexWithout(ids: Iterable[Long]) =
    synthIndex.copy(encoded = synthEncoded.filter(!col("__id").isin(ids.toSeq: _*)))
  private lazy val ansiSafeIndex = indexWithout(ansiErrors.keys)

  private lazy val synthCorpus = vecFrame(Seq(
    1L -> full(1, 0, 0, 0), 2L -> full(0.6, 0.8, 0, 0), 3L -> full(0.6, 0.8, 0, 0),
    4L -> full(0, 1, 0, 0), 5L -> full(0, 0, 0, 0), 6L -> full(0, 1, 1, 0), 7L -> None,
    8L -> Some(Seq(Some(1.0), None, Some(0.0), Some(0.0))), 9L -> full(1, 1, 1, 1),
    10L -> full(0, 0, 1, 0), 11L -> full(1, 0, 1, 0), 12L -> full(0.5, 0.5, 0, 0),
    13L -> full(2, 0, 0, 0), 14L -> full(0, 0, 0, 1), 15L -> full(1, 0, 0, 0),
    16L -> full(1, 0, 0, 0), 20L -> full(1, 0, 0, 0)))

  // a zero vector, a null vector, a null element; 104 ties centroids
  // 1 and 2; 105 ties every centroid at 0; 106 probes the empty bucket
  private lazy val synthQueries = vecFrame(Seq(
    100L -> full(1, 0, 0, 0), 101L -> full(0, 0, 0, 0), 102L -> None,
    103L -> Some(Seq(Some(1.0), None, Some(0.0), Some(0.0))), 104L -> full(0, 1, 0, 0),
    105L -> full(0, 0, 1, 0), 106L -> full(0, 0, 0, 1)))

  test("ivfPqSearch == the composed join-and-aggregate search, row for row: ties, degenerate queries, empty and unprobed buckets, bad codes; codegen and interpreted, ANSI on and off") {
    // (nprobe, shortlist, k): nprobe >= C = 4 and shortlists larger
    // than the probed rows included
    val shapes = Seq((1, 1, 1), (1, 2, 2), (2, 3, 2), (4, 100, 5), (10, 4, 3))
    def compare(index: Similarity.IvfPqIndex): Unit = shapes.foreach { case (nprobe, shortlist, k) =>
      val expected = ranked(composedIvfPqSearch(index, synthCorpus, "id", "vec",
        synthQueries, "id", "vec", k, nprobe, shortlist))
      val got = ranked(Similarity.ivfPqSearch(index, synthCorpus, "id", "vec",
        synthQueries, "id", "vec", k, nprobe, shortlist))
      assert(got == expected, s"nprobe=$nprobe shortlist=$shortlist k=$k")
      assert(expected.map(_._1) == Set(100L, 101L, 104L, 105L, 106L) ||
        (nprobe == 1 && expected.map(_._1) == Set(100L, 101L, 104L, 105L)),
        s"degenerate queries must be absent, the rest present: $expected")
    }
    // each failing code fails both forms with element_at's / +'s error
    def failures(failing: Map[Long, String]): Unit = failing.foreach { case (id, want) =>
      val idx = indexWithout(ansiErrors.keys.filter(_ != id))
      val expected = conditions(composedIvfPqSearch(idx, synthCorpus, "id", "vec",
        synthQueries, "id", "vec", 3, 4, 100).collect())
      val got = conditions(Similarity.ivfPqSearch(idx, synthCorpus, "id", "vec",
        synthQueries, "id", "vec", 3, 4, 100).collect())
      assert(expected.contains(want) && got.contains(want), s"id $id: $expected vs $got")
    }
    for (codegen <- Seq(true, false)) {
      val conf = if (codegen) Nil else interpreted
      withConf(conf :+ ("spark.sql.ansi.enabled" -> "false"): _*) {
        compare(indexWithout(Seq(17L)))
        failures(ansiErrors.filter(_._1 == 17L))
      }
      withConf(conf :+ ("spark.sql.ansi.enabled" -> "true"): _*) {
        compare(ansiSafeIndex)
        failures(ansiErrors)
      }
    }
  }

  test("pqSearch on a stored code of Int.MaxValue: the row's ADC reads null without ANSI, ARITHMETIC_OVERFLOW under ANSI") {
    // id 14 carries codes (Int.MaxValue, 0): without ANSI the lookup
    // index wraps to Int.MinValue, which element_at's own bounds check
    // misses (a read outside the array, a SIGSEGV in the JVM)
    val enc = synthEncoded.filter(col("__id").isin(1L, 14L))
    val q = vecFrame(Seq(100L -> full(1, 0, 0, 0)))
    def search() = Similarity.pqSearch(enc, "__id", synthBooks, q, "id", "vec", k = 2)
    for (codegen <- Seq(true, false)) {
      val conf = if (codegen) Nil else interpreted
      withConf(conf :+ ("spark.sql.ansi.enabled" -> "false"): _*) {
        val scored = enc.crossJoin(q.select(AdcTable.column(Similarity.l2Normalize(col("vec")),
            spark.sparkContext.broadcast(IvfPqConsts(Nil, synthBooks.books,
              synthBooks.halfNormSq, synthBooks.ds))).as("__T")))
          .select(col("__id"), Similarity.adcSum(synthBooks.m).as("adc"))
          .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
        assert(scored(14L).isEmpty && scored(1L).isDefined, scored)
        assert(search().collect().map(_.getLong(1)).toSeq == Seq(1L))
      }
      withConf(conf :+ ("spark.sql.ansi.enabled" -> "true"): _*) {
        assert(conditions(search().collect()).contains("ARITHMETIC_OVERFLOW"))
      }
    }
  }

  test("ivfSearch and pqSearchRerank == their composed forms, row for row") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 7)
    val idx = Similarity.ivfBuild(emb, "vec_id", "embedding", nCentroids = 8)
    try {
      Seq((1, 5), (3, 10), (8, 10)).foreach { case (nprobe, k) =>
        val got = ranked(Similarity.ivfSearch(idx, queries, "vec_id", "embedding", k, nprobe))
        assert(got.nonEmpty && got == ranked(composedIvfSearch(idx, queries,
          "vec_id", "embedding", k, nprobe)), s"ivfSearch nprobe=$nprobe")
      }
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      val got = ranked(Similarity.pqSearchRerank(enc, "vec_id", books, emb,
        "vec_id", "embedding", queries, "vec_id", "embedding", k = 10, shortlist = 30))
      assert(got.size == 70 && got == ranked(composedPqSearchRerank(enc, "vec_id", books,
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", 10, 30)))
    } finally idx.unpersist()
  }

  test("driver-planned searches refuse duplicate or null query ids, by name") {
    val dup = vecFrame(Seq(1L -> full(1, 0, 0, 0), 1L -> full(0, 1, 0, 0)))
    val withNull = vecFrame(Seq(1L -> full(1, 0, 0, 0))).union(
      spark.createDataFrame(java.util.Arrays.asList(Row(null, Seq(0.0, 1.0, 0.0, 0.0))),
        StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))))
    for (q <- Seq(dup, withNull)) {
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfPqSearch(synthIndex, synthCorpus, "id", "vec", q, "id", "vec", 2)
      }
      assert(e.getMessage.contains("ivfPqSearch") && e.getMessage.contains("unique"), e.getMessage)
    }
  }

  test("ivfPqSearch and pqSearchRerank == their composed forms on both sides of the collected-rerank bound") {
    val q = vecFrame(Seq(1L -> full(1, 0, 0, 0), 2L -> full(0, 1, 0, 0)))
    val atBound = (Similarity.MaxDriverShortlistRows / 2).toInt
    for (shortlist <- Seq(atBound, atBound + 1)) {
      val collected = shortlist == atBound
      def kernelPath(df: DataFrame) = df.queryExecution.analyzed.toString.contains("graft_rerank_cosine")
      val ivfPq = Similarity.ivfPqSearch(ansiSafeIndex, synthCorpus, "id", "vec", q, "id", "vec",
        k = 3, nprobe = 4, shortlist = shortlist)
      assert(kernelPath(ivfPq) == collected, s"shortlist=$shortlist")
      assert(ranked(ivfPq) == ranked(composedIvfPqSearch(ansiSafeIndex, synthCorpus, "id", "vec",
        q, "id", "vec", 3, 4, shortlist)), s"ivfPqSearch shortlist=$shortlist")
      val pq = Similarity.pqSearchRerank(ansiSafeIndex.encoded, "__id", synthBooks, synthCorpus,
        "id", "vec", q, "id", "vec", k = 3, shortlist = shortlist)
      assert(kernelPath(pq) == collected, s"shortlist=$shortlist")
      val want = ranked(composedPqSearchRerank(ansiSafeIndex.encoded, "__id", synthBooks,
        synthCorpus, "id", "vec", q, "id", "vec", 3, shortlist))
      assert(want.size == 6 && ranked(pq) == want, s"pqSearchRerank shortlist=$shortlist")
    }
  }

  test("IVF searches refuse a batch whose probe rows exceed MaxDriverShortlistRows, by name, before scoring") {
    // C = 1024 centroids at full probe: 1024 queries sit at the bound
    val c = 1024
    val centroids = (0 until c).map(i => (i, Seq(1.0, i.toDouble / c, 0.0, 0.0)))
      .toDF("centroid_id", "__cv")
    val pqIndex = ansiSafeIndex.copy(centroids = centroids)
    def queries(n: Int) = vecFrame((0 until n).map(i => i.toLong -> full(1, 0, i, 0)))
    val over = queries(c + 1)
    val (errors, jobs) = graft.tools.Probe.jobsDuring(spark)(Seq(
      intercept[IllegalArgumentException](Similarity.ivfPqSearch(pqIndex, synthCorpus,
        "id", "vec", over, "id", "vec", k = 1, nprobe = c)),
      intercept[IllegalArgumentException](Similarity.ivfSearch(
        Similarity.IvfIndex(synthCorpus.select(col("id").as("__id"), lit(0).as("centroid_id"),
          col("vec").as("__v")), centroids), over, "id", "vec", k = 1, nprobe = c + 5))))
    errors.foreach(e => assert(e.getMessage.contains("1025 queries x 1024 probes") &&
      e.getMessage.contains("MaxDriverShortlistRows = 1048576"), e.getMessage))
    assert(jobs.isEmpty, s"a refused local batch must run no job: $jobs")
    // at the bound it runs
    assert(Similarity.ivfPqSearch(pqIndex, synthCorpus, "id", "vec", queries(c), "id", "vec",
      k = 1, nprobe = c).count() == c)
  }

  test("a search of a loaded index with a local query batch runs at most five Spark jobs") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annsearchjobs").toString)
    val idx = Similarity.ivfPqBuild(emb, "vec_id", "embedding", nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(idx, store, "ann")
      val loaded = Similarity.loadIvfPq(store, "ann")
      val local = spark.createDataFrame(
        java.util.Arrays.asList(emb.filter($"vec_id" < 20).collect(): _*), emb.schema)
      val (rows, jobs) = graft.tools.Probe.jobsDuring(spark)(Similarity.ivfPqSearch(
        loaded, emb, "vec_id", "embedding", local, "vec_id", "embedding",
        k = 10, nprobe = 4, shortlist = 50).collect())
      assert(jobs.nonEmpty, "the census saw no job at all")
      assert(jobs.size <= 5, s"${jobs.size} jobs: ${jobs.mkString("\n")}")
      assert(rows.map(_.getLong(0)).distinct.length == 20, rows.toSeq)
    } finally idx.unpersist()
  }

  test("cosine: identical -> 1, orthogonal -> 0, opposite -> -1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0)
    ).toDF("a", "b", "expect")
    df.select(Similarity.cosine($"a", $"b").as("c"), $"expect").collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("l2Normalize leaves zero vectors intact") {
    val n = Seq(Tuple1(Seq(0.0, 0.0))).toDF("v")
      .select(Similarity.l2Normalize($"v")).as[Seq[Double]].first()
    assert(n == Seq(0.0, 0.0))
  }

  test("bruteForceTopK: every query's top-1 is itself when querying the corpus") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 3)
    val top1 = top.filter($"rank" === 1)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach(q => assert(top1(q) == q))
  }

  test("int8 quantization: bounded reconstruction error, high top-k recall") {
    val emb = Fx.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val rt = emb.select($"vec_id", $"e",
      Similarity.dequantizeInt8(Similarity.quantizeInt8($"e")).as("d"),
      Similarity.quantizeInt8($"e").getField("scale").as("s"))
    // per-element |x - dequant(x)| <= scale/2 (+fp eps)
    val viol = rt.withColumn("maxerr",
      aggregate(zip_with($"e", $"d", (x, y) => abs(x - y)), lit(0.0),
        (acc, v) => greatest(acc, v)))
      .filter($"maxerr" > $"s" / 2 + 1e-9).count()
    assert(viol == 0)
    // searching on dequantized vectors preserves the neighbor structure
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "e",
      emb.filter($"vec_id" < 5), "vec_id", "e", k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val qCorpus = emb.select($"vec_id",
      Similarity.dequantizeInt8(Similarity.quantizeInt8($"e")).as("e"))
    val approx = Similarity.bruteForceTopK(qCorpus, "vec_id", "e",
      qCorpus.filter($"vec_id" < 5), "vec_id", "e", k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall@10 was $recall")
  }

  test("IVF search reaches >=90% recall@10 vs brute force at nprobe=8/16 buckets") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val idx = Similarity.ivfBuild(emb, "vec_id", "embedding", nCentroids = 16)
    val approx = Similarity.ivfSearch(idx, queries, "vec_id", "embedding",
      k = 10, nprobe = 8)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@10 was $recall")
    // every corpus vector is assigned to exactly one bucket
    assert(idx.assigned.count() == emb.count())
  }

  test("IVF-PQ composed search: recall@10 at nprobe=8; EXACT at full probe + corpus shortlist") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    def bruteSet(cols: Seq[String]) = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
      .select(cols.head, cols.tail: _*)
    val brute = bruteSet(Seq("query_id", "nn_id")).as[(Long, Long)].collect().toSet
    val books = Similarity.pqTrainBooks(emb, "vec_id", "embedding", dim = 64)
    val idx = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nCentroids = 16, books)
    try {
      val approx = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, nprobe = 8, shortlist = 100)
        .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
      val recall = (brute intersect approx).size.toDouble / brute.size
      assert(recall >= 0.8, s"IVF-PQ recall@10 was $recall")
      // full probe + corpus-sized shortlist: the exact rerank sees the
      // whole corpus ⇒ bit-identical to brute force, ranks included
      // (the q110 oracle contract)
      val full = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10, nprobe = 16,
        shortlist = emb.count().toInt)
        .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
      val bruteRanked = bruteSet(Seq("query_id", "nn_id", "rank"))
        .as[(Long, Long, Int)].collect().toSet
      assert(full == bruteRanked)
    } finally idx.unpersist()
  }

  test("fused ivfPqBuild == composed ivfBuild + pqEncode + id join, row for row (r17 fusion)") {
    // the r17 single-aggregate encode must reproduce the r16
    // composition bit for bit: same assignment (broadcast argmax,
    // lowest-centroid tie), same codes (per-subspace argmax, lowest
    // code tie), stitched without the id join
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
    val fused = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nCentroids = 16, books)
    val idx = Similarity.ivfBuild(emb, "vec_id", "embedding", nCentroids = 16)
    try {
      val composed = idx.assigned.join(
          Similarity.pqEncode(emb, "vec_id", "embedding", books)
            .withColumnRenamed("vec_id", "__id"), Seq("__id"))
        .select($"__id", $"centroid_id", $"codes")
      assert(fused.encoded.exceptAll(composed).isEmpty &&
        composed.exceptAll(fused.encoded).isEmpty)
      // encodeAssign (the append/upsert encode) rides the same fused
      // pass — against the SAME centroids it must equal the build
      val viaAssign = Similarity.encodeAssign(emb, "vec_id", "embedding",
        fused.centroids, books)
      assert(fused.encoded.exceptAll(viaAssign).isEmpty &&
        viaAssign.exceptAll(fused.encoded).isEmpty)
    } finally { fused.unpersist(); idx.unpersist() }
  }

  test("non-integral id columns are refused loudly (the heap keys on long)") {
    val emb = Seq(("a", Seq(1.0, 0.0)), ("b", Seq(0.0, 1.0))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, "id", "v", emb, "id", "v", k = 1)
    }
    assert(e.getMessage.contains("integral id"))
    intercept[IllegalArgumentException] {
      Similarity.ivfBuild(emb, "id", "v", nCentroids = 1)
    }
  }

  test("IVF-PQ index round-trips through the snapshot store: loaded search == in-memory search") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val idx = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nCentroids = 8, books)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-ann").toString)
    try {
      val mem = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      Similarity.saveIvfPq(idx, store, "ann")
      val loaded = Similarity.loadIvfPq(store, "ann")
      assert(loaded.books.dim == 64 && loaded.books.m == 8 && loaded.books.ksub == 16)
      assert(loaded.books.books.flatten.flatten.toSeq ==
        books.books.flatten.flatten.toSeq, "codebooks must round-trip exactly")
      val fromStore = Similarity.ivfPqSearch(loaded, emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(fromStore == mem, "search over the stored index must match in-memory")
      // index-as-table time travel (r15): retrain onto the store (v1)
      // and load the ORIGINAL v0 — it must still encode the full
      // corpus while the current index carries only the retrain set
      val drifted = Similarity.ivfPqBuild(emb.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", nCentroids = 8, books)
      try {
        Similarity.saveIvfPq(drifted, store, "ann")
        val cur = Similarity.loadIvfPq(store, "ann")
        assert(cur.encoded.filter($"__id" % 2 === 0).isEmpty,
          "current index should be the drifted retrain")
        val v0 = Similarity.loadIvfPq(store, "ann", version = Some(0))
        assert(v0.encoded.count() == emb.count(),
          "time-traveled v0 must encode the full original corpus")
        val replay = Similarity.ivfPqSearch(v0, emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 20)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
        assert(replay == mem,
          "the time-traveled index must replay the original search exactly")
      } finally drifted.unpersist()
    } finally idx.unpersist()
  }

  test("index group commit: a kill between member writes leaves the previous manifest triple serving (r15 verdict missing #2)") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annmf").toString)
    val idx = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(idx, store, "ann") // manifest v0 = (0,0,0)
      assert(Similarity.ivfPqManifest(store, "ann") == ((0, 0, 0)))
      val n = emb.count()
      // simulate a save/append KILLED after its encoded write but
      // before its manifest commit: a bare member-table write with no
      // manifest — exactly what the crash window leaves behind
      store.write("ann_encoded",
        idx.encoded.filter($"__id" % 2 === 1))
      // the current manifest still pins the PREVIOUS triple: readers
      // serve the full v0 encoding, never the orphaned half-write
      assert(Similarity.ivfPqManifest(store, "ann") == ((0, 0, 0)))
      assert(Similarity.loadIvfPq(store, "ann").encoded.count() == n,
        "a crashed group write must stay invisible to loads")
      // the next SUCCESSFUL save commits a manifest that skips the
      // orphan: no manifest version ever names encoded v1
      Similarity.saveIvfPq(idx, store, "ann")
      assert(Similarity.ivfPqManifest(store, "ann") == ((2, 1, 1)))
      assert(Similarity.ivfPqManifest(store, "ann", Some(0)) == ((0, 0, 0)))
      assert(Similarity.loadIvfPq(store, "ann").encoded.count() == n)
    } finally idx.unpersist()
  }

  test("loadIvfPq refuses a store with no committed manifest, by name") {
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annmf2").toString)
    // member tables without a manifest = uncommitted group state (a
    // first save crashed mid-group, or a pre-manifest layout)
    store.write("ann_encoded",
      Seq((1L, 0, Seq(1, 2))).toDF("__id", "centroid_id", "codes"))
    val e = intercept[IllegalArgumentException] {
      Similarity.loadIvfPq(store, "ann")
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("appendIvfPq == re-encode under the same codebook: old rows byte-identical, new rows carry pqEncode's exact codes (q339's frame-level twin)") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annap").toString)
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val base = Similarity.ivfPqBuild(even, "vec_id", "embedding",
      nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(base, store, "ann")
      Similarity.appendIvfPq(store, "ann", odd, "vec_id", "embedding")
      // group commit: only encoded_v advanced — centroids and books
      // are the persisted v0 objects, reused verbatim
      assert(Similarity.ivfPqManifest(store, "ann") == ((1, 0, 0)))
      val cur = Similarity.loadIvfPq(store, "ann")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList)
      val got = cur.encoded.select($"__id", $"centroid_id", $"codes")
        .collect().map(key).toSet
      // exactly one row per corpus id
      assert(got.size == emb.count() &&
        got.map(_._1) == emb.select($"vec_id").as[Long].collect().toSet)
      // the pre-append rows are BYTE-IDENTICAL to the v0 snapshot (no
      // re-encode of the existing corpus)
      val v0 = Similarity.loadIvfPq(store, "ann", version = Some(0))
        .encoded.select($"__id", $"centroid_id", $"codes")
        .collect().map(key).toSet
      assert(got.filter(r => r._1 % 2 == 0) == v0)
      // the appended rows carry pqEncode's exact codes for the same
      // codebook (the re-encode equivalence), assigned to a live bucket
      val oddCodes = Similarity.pqEncode(odd, "vec_id", "embedding", books)
        .select($"vec_id", $"codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      got.filter(_._1 % 2 == 1).foreach { case (id, cid, codes) =>
        assert(codes == oddCodes(id), s"appended codes differ for id $id")
        assert(cid >= 0 && cid < 8, s"appended row $id assigned to $cid")
      }
    } finally base.unpersist()
  }

  test("IVF assignment: broadcast mode == literal mode, row for row") {
    // the two modes must be bit-identical (same left-to-right dot,
    // same lowest-id tie-break) so the production default stays
    // oracle-compatible with the literal replay
    val emb = Fx.t(spark, sfDir, "embeddings")
    def assignments(bc: Boolean): Map[Long, Int] = {
      val idx = Similarity.ivfBuild(emb, "vec_id", "embedding",
        nCentroids = 8, broadcastCentroids = bc)
      try idx.assigned.select($"__id", $"centroid_id")
        .as[(Long, Int)].collect().toMap
      finally idx.unpersist()
    }
    val bcast = assignments(bc = true)
    val lit = assignments(bc = false)
    assert(bcast == lit, "modes diverged")
  }

  test("PQ encode: broadcast mode == literal mode, code for code") {
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    def codes(bc: Boolean): Map[Long, Seq[Int]] =
      Similarity.pqEncode(emb, "vec_id", "embedding", books, broadcastBooks = bc)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(bc = true) == codes(bc = false), "modes diverged")
  }

  test("PQ encode: one in-range code per subspace, deterministic across runs") {
    val emb = graft.core.Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    val rows = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(rows.length == emb.count())
    rows.foreach { case (_, codes) =>
      assert(codes.length == 8)
      assert(codes.forall(c => c >= 0 && c < 16), codes)
    }
    val again = Similarity.pqEncode(emb.repartition(7), "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows.toMap == again, "codes must not depend on partition layout")
  }

  test("PQ ADC search with trained codebooks: decent recall@10, better than seeded books") {
    val emb = graft.core.Fx.t(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(books: Similarity.PqBooks): Double = {
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      val got = Similarity.pqSearch(enc, "vec_id", books, queries, "vec_id", "embedding", k = 10)
        .select("query_id", "nn_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, nn) => (nn intersect got.getOrElse(q, Set.empty)).size / 10.0 }
        .sum / exact.size
    }
    val trainedBooks = Similarity.pqTrainBooks(emb, "vec_id", "embedding", dim = 64)
    val trained = recallOf(trainedBooks)
    val seeded = recallOf(Similarity.pqSeededBooks(64))
    assert(trained >= seeded - 0.05,
      s"k-means books ($trained) should not lose to random books ($seeded)")
    // the production recipe — ADC shortlist + exact rerank — must
    // recover most of the true top-10 (32-bit codes alone cannot)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", trainedBooks)
    val reranked = Similarity.pqSearchRerank(enc, "vec_id", trainedBooks,
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, shortlist = 100)
      .select("query_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rerankedRecall = exact.map { case (q, nn) =>
      (nn intersect reranked.getOrElse(q, Set.empty)).size / 10.0 }.sum / exact.size
    assert(rerankedRecall >= 0.7,
      s"rerank recall@10 too low: $rerankedRecall (plain ADC: $trained)")
  }

  test("hardNegatives: top wrong-label neighbors only, nearest same-label excluded") {
    // anchor 1 (label A) sits next to 2 (A, cosine ~1) and 3 (B,
    // slightly farther); 4 (B) is orthogonal. Hard negatives for 1
    // must be [3, 4] — never 2, however close.
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0), "A"),
      (2L, Seq(0.999, 0.01, 0.0), "A"),
      (3L, Seq(0.9, 0.1, 0.0), "B"),
      (4L, Seq(0.0, 1.0, 0.0), "B"),
      (5L, Seq(0.0, 0.0, 1.0), null.asInstanceOf[String]) // unlabeled drops
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label",
      emb.filter($"vec_id" === 1L), "vec_id", "embedding", "label", k = 10)
      .select("query_id", "nn_id", "rank").as[(Long, Long, Int)].collect()
      .sortBy(_._3)
    assert(out.map(_._2).toSeq == Seq(3L, 4L),
      s"expected wrong-label neighbors [3, 4], got ${out.toSeq}")
  }

  test("mmrRerank: a near-duplicate of the first pick loses to a diverse result") {
    // unit vectors at angles −10°, −12°, +25° from the query: 1 and 2
    // are near-duplicates (2° apart, both highly relevant), 3 diverse.
    // Plain top-3 is [1, 2, 3] by relevance; at λ=0.5 MMR demotes the
    // duplicate (Δrel 0.007 < Δdiv 0.18): [1, 3, 2].
    val emb = Seq(
      (1L, Seq(0.9848, -0.1736, 0.0)),
      (2L, Seq(0.9781, -0.2079, 0.0)),
      (3L, Seq(0.9063, 0.4226, 0.0))
    ).toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrRerank(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 3, shortlist = 3, lambdaMilli = 500)
      .orderBy($"rank").select("nn_id").as[Long].collect().toSeq
    assert(mmr == Seq(1L, 3L, 2L), s"diversity must reorder: $mmr")
    val plain = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 3)
      .orderBy($"rank").select("nn_id").as[Long].collect().toSeq
    assert(plain == Seq(1L, 2L, 3L), s"relevance-only control: $plain")
  }

  test("guards: hardNegatives rejects k < 1; mmrRerank rejects an over-budget query frame") {
    val emb = Seq((1L, Seq(1.0, 0.0), "A"), (2L, Seq(0.0, 1.0), "B"))
      .toDF("vec_id", "embedding", "label")
    val exK = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        emb.filter($"vec_id" === 1L), "vec_id", "embedding", "label", k = 0)
    }
    assert(exK.getMessage.contains("k must be >= 1"))
    // shortlist = 2^20 makes the budget exactly ONE query; two queries
    // must trip the driver-collect guard BEFORE any scoring runs
    val q2 = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val exB = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(emb.drop("label"), "vec_id", "embedding",
        q2, "vec_id", "embedding", k = 1, shortlist = 1 << 20)
    }
    assert(exB.getMessage.contains("driver-materialization budget"))
  }

  test("marginMine: finds the true pair, rejects a dense-hub high cosine") {
    // A-side: 1 has a true counterpart (11, near-identical); 2 sits in
    // a dense B hub where EVERYTHING scores ~0.99 — absolute cosine
    // would pair it, but its margin ≈ 1 because the neighborhood sums
    // are as high as the best candidate.
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (2L, Seq(0.0, 1.0, 0.0, 0.0), 0),   // in the hub
      (3L, Seq(0.0, 0.99, 0.1, 0.0), 0),  // hub is dense on BOTH sides,
      (4L, Seq(0.0, 0.99, 0.05, 0.1), 0), // so backward sums stay high
      (11L, Seq(0.99, 0.141, 0.0, 0.0), 1),   // 1's translation
      (21L, Seq(0.01, 0.999, 0.02, 0.0), 1),  // the dense hub around 2
      (22L, Seq(0.0, 0.999, 0.03, 0.0), 1),
      (23L, Seq(0.02, 0.999, 0.01, 0.0), 1),
      (24L, Seq(0.01, 0.999, 0.0, 0.02), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.marginMine(emb, "vec_id", "embedding", "label",
      labelA = 0, labelB = 1, k = 3, minMarginMilli = 1100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.get(1L).contains(11L), s"true pair must mine: $out")
    assert(!out.contains(2L), s"dense-hub anchor must yield no pair: $out")
  }

  test("labelSeparation: identical vectors read 1e6 within, orthogonal 0 across") {
    import spark.implicits._
    val e1 = Array(1.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f)
    val df = (Seq.fill(3)((0, e1)) ++ Seq.fill(2)((1, e2))).toDF("label", "embedding")
    val out = Similarity.labelSeparation(df, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("mean_cos_ppm"))).toMap
    assert(out((0, 0)) == ((6L, 1000000L)))
    assert(out((1, 1)) == ((2L, 1000000L)))
    assert(out((0, 1)) == ((6L, 0L)))
  }

  test("labelSeparation: opposed vectors floor to exactly -1e6 across") {
    import spark.implicits._
    val df = Seq((0, Array(1.0f, 0.0f)), (1, Array(-1.0f, 0.0f)),
      (1, Array(-1.0f, 0.0f))).toDF("label", "embedding")
    val rows = Similarity.labelSeparation(df, "embedding", "label").collect()
    val out = rows.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    assert(out((0, 1)).getAs[Long]("mean_cos_ppm") == -1000000L)
    // label 0 is a singleton: zero within-pairs must read NULL, not fail
    val solo = out((0, 0))
    assert(solo.getAs[Long]("n_pairs") == 0L)
    assert(solo.isNullAt(solo.fieldIndex("mean_cos_ppm")))
  }

  test("labelSeparation: sum-vector identity equals the brute-force pair mean") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 12).map(i => (i % 3, Array.fill(5)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("label", "embedding")
    def unit(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      if (n == 0) d else d.map(_ / n)
    }
    def quant(v: Array[Float]): Array[Long] =
      unit(v).map(x => math.round(x * 1e9))
    val qs = vecs.map { case (l, v) => (l, quant(v)) }
    def dotq(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
    val out = Similarity.labelSeparation(df, "embedding", "label").collect()
    out.foreach { r =>
      val (la, lb) = (r.getInt(0), r.getInt(1))
      val as = qs.filter(_._1 == la).map(_._2)
      val bs = qs.filter(_._1 == lb).map(_._2)
      val (num, np) =
        if (la == lb) {
          val pairs = for (i <- as.indices; j <- as.indices if i != j) yield dotq(as(i), as(j))
          (pairs.sum, as.size.toLong * (as.size - 1))
        } else {
          val pairs = for (a <- as; b <- bs) yield dotq(a, b)
          (pairs.sum, as.size.toLong * bs.size)
        }
      val den = BigInt("1000000000000") * np
      val expected = ((num - (((num % den) + den) % den)) / den).toLong
      assert(r.getAs[Long]("n_pairs") == np, s"pair count ($la,$lb)")
      assert(r.getAs[Long]("mean_cos_ppm") == expected, s"mean ($la,$lb)")
    }
  }

  test("clusterQuality: matches the BigInt sum-of-squares reference; k=1 is NULL") {
    import spark.implicits._
    val vecs = Seq(
      (0, Array(0.0f, 0.0f)), (0, Array(0.0f, 2.0f)),
      (1, Array(10.0f, 0.0f)), (1, Array(10.0f, 2.0f)),
      (2, Array(5.0f, 50.0f)))
    val out = Similarity.clusterQuality(vecs.toDF("label", "embedding"),
      "embedding", "label").collect().head
    def q(v: Float): BigInt = BigInt(math.round(v.toDouble * 1e6))
    val byC = vecs.groupBy(_._1).view.mapValues(_.map(_._2.map(q))).toMap
    val tssq = vecs.flatMap(_._2.map(q)).map(x => x * x).sum
    val a = byC.values.map { vs =>
      val dims = vs.head.indices.map(j => vs.map(_(j)).sum)
      val sc2 = dims.map(s => s * s).sum
      sc2 / vs.size // nonneg floor
    }.sum
    val n = vecs.size
    val gdims = (0 to 1).map(j => vecs.flatMap(v => Seq(v._2(j))).map(q).sum)
    val b = gdims.map(s => s * s).sum / n
    val (wss, bss) = (tssq - a, a - b)
    assert(out.getAs[Long]("n") == n && out.getAs[Long]("k") == 3L)
    assert(BigInt(out.getAs[Long]("wss")) == wss)
    assert(BigInt(out.getAs[Long]("bss")) == bss)
    val k = 3.0
    val ch = (bss.toDouble / (k - 1.0)) / (wss.toDouble / (n - k))
    assert(out.getAs[Long]("ch_milli") == math.floor(1000.0 * ch).toLong)
    val solo = Similarity.clusterQuality(
      vecs.filter(_._1 == 0).toDF("label", "embedding"), "embedding", "label")
      .collect().head
    assert(solo.isNullAt(solo.fieldIndex("ch_milli")))
  }


  test("rankedOverlap: identical lists read recall 1e6, disjoint read 0") {
    import spark.implicits._
    val a = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("q", "id")
    val same = Similarity.rankedOverlap(a, a, "q", "id", k = 2)
      .collect().map(r => r.getAs[Long]("q") -> r).toMap
    assert(same(1L).getAs[Long]("n_overlap") == 2L)
    assert(same(1L).getAs[Long]("recall_ppm") == 1000000L)
    val b = Seq((1L, 99L), (1L, 98L), (2L, 20L), (2L, 97L)).toDF("q", "id")
    val mixed = Similarity.rankedOverlap(a, b, "q", "id", k = 2)
      .collect().map(r => r.getAs[Long]("q") -> r).toMap
    assert(mixed(1L).getAs[Long]("recall_ppm") == 0L)
    assert(mixed(2L).getAs[Long]("n_overlap") == 1L)
    assert(mixed(2L).getAs[Long]("recall_ppm") == 500000L)
  }

  test("appendIvfPq UPSERT: a re-sent id supersedes its old encoding; no duplicate nn_id survives into a top-k (q340's frame twin)") {
    import spark.implicits._
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annup").toString)
    val base = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(base, store, "ann")
      // the CDC re-send: all odd ids again, vectors changed (reversed)
      val resent = emb.filter($"vec_id" % 2 === 1)
        .select($"vec_id",
          reverse($"embedding".cast("array<double>")).as("embedding"))
      Similarity.appendIvfPq(store, "ann", resent, "vec_id", "embedding")
      assert(Similarity.ivfPqManifest(store, "ann") == ((1, 0, 0)))
      val cur = Similarity.loadIvfPq(store, "ann")
      // exactly one row per corpus id — the old odd rows are gone
      val n = emb.count()
      assert(cur.encoded.count() == n)
      assert(cur.encoded.select($"__id").distinct().count() == n)
      // the re-sent rows carry the FRESH vectors' codes (replace, not
      // ignore): equality with the operator's own encode of the
      // upserted corpus, both except-directions empty
      val upserted = emb.filter($"vec_id" % 2 === 0)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
        .union(resent)
      val expected = Similarity.encodeAssign(upserted, "vec_id",
        "embedding", cur.centroids, cur.books)
      assert(expected.exceptAll(cur.encoded).isEmpty &&
        cur.encoded.exceptAll(expected).isEmpty)
      // and the search surface: no top-k may ever return one nn_id
      // twice (the defect a double-encode causes)
      val res = Similarity.ivfPqSearch(cur, upserted, "vec_id", "embedding",
        upserted.filter($"vec_id" < 8), "vec_id", "embedding",
        k = 10, nprobe = 8, shortlist = n.toInt)
        .select($"query_id", $"nn_id").collect()
      assert(res.length == res.map(r => (r.getLong(0), r.getLong(1))).toSet.size,
        "duplicate nn_id in a post-upsert top-k")
    } finally base.unpersist()
  }

  test("appendIvfPq rejects intra-batch duplicate ids, by name") {
    import spark.implicits._
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-anndup").toString)
    val base = Similarity.ivfPqBuild(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(base, store, "ann")
      val odd = emb.filter($"vec_id" % 2 === 1)
      val e = intercept[IllegalArgumentException] {
        Similarity.appendIvfPq(store, "ann", odd.union(odd),
          "vec_id", "embedding")
      }
      assert(e.getMessage.contains("appendIvfPq") &&
        e.getMessage.contains("unique"))
      // the refused batch must not have committed anything
      assert(Similarity.ivfPqManifest(store, "ann") == ((0, 0, 0)))
    } finally base.unpersist()
  }

  test("appendIvfPq runs no aggregate job: the id check and the encode ride one collect and the write") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annjobs").toString)
    val base = Similarity.ivfPqBuild(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      nCentroids = 8, books)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.optimizedPlan.exists(_.isInstanceOf[Aggregate]))
          plans.add(qe.optimizedPlan.treeString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      Similarity.saveIvfPq(base, store, "ann")
      val odd = emb.filter($"vec_id" % 2 === 1)
      spark.listenerManager.register(listener)
      val (_, jobs) = graft.tools.Probe.jobsDuring(spark)(
        Similarity.appendIvfPq(store, "ann", odd, "vec_id", "embedding"))
      assert(jobs.nonEmpty, "the census saw no job at all")
      assert(plans.isEmpty, "append planned an aggregate:\n" + plans.toArray.mkString("\n"))
      assert(Similarity.loadIvfPq(store, "ann").encoded.count() == emb.count())
    } finally { spark.listenerManager.unregister(listener); base.unpersist() }
  }

  test("forgetFromIvfPq: a forgotten id never returns from a search at ANY manifest version; history shape preserved") {
    import spark.implicits._
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annrtbf").toString)
    val base = Similarity.ivfPqBuild(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(base, store, "ann") // manifest v0
      Similarity.appendIvfPq(store, "ann",
        emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding") // v1
      val removed = Similarity.forgetFromIvfPq(store, "ann",
        $"__id" % 5 === 0) // v2 (audit mark)
      assert(removed == emb.filter($"vec_id" % 5 === 0).count() +
        emb.filter($"vec_id" % 10 === 0).count())
      // history shape: member versions untouched, one audit manifest
      assert(store.versions("ann_encoded") == Seq(0, 1))
      assert(store.versions("ann_manifest") == Seq(0, 1, 2))
      assert(Similarity.ivfPqManifest(store, "ann") == ((1, 0, 0)))
      // no manifest version can serve a forgotten id — time-traveled
      // searches come up clean too
      store.versions("ann_manifest").foreach { mv =>
        val idx = Similarity.loadIvfPq(store, "ann", Some(mv))
        assert(idx.encoded.filter($"__id" % 5 === 0).isEmpty,
          s"manifest v$mv still serves a forgotten id")
        val res = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
          emb.filter($"vec_id" < 2), "vec_id", "embedding",
          k = 10, nprobe = 8, shortlist = emb.count().toInt)
          .select($"nn_id").as[Long].collect()
        assert(res.nonEmpty && res.forall(_ % 5 != 0),
          s"a search at manifest v$mv returned a forgotten id")
      }
    } finally base.unpersist()
  }

  test("expireIvfPqVersions: reclaims exactly the unreachable member prefix; retired manifests fail by name; orphans survive") {
    import spark.implicits._
    val emb = Fx.t(spark, sfDir, "embeddings")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-annvac").toString)
    val base = Similarity.ivfPqBuild(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      nCentroids = 8, books)
    try {
      Similarity.saveIvfPq(base, store, "ann") // manifest v0 = (0,0,0)
      Similarity.appendIvfPq(store, "ann",
        emb.filter($"vec_id" % 4 === 1), "vec_id", "embedding") // v1
      Similarity.appendIvfPq(store, "ann",
        emb.filter($"vec_id" % 4 === 3), "vec_id", "embedding") // v2
      // an ORPHANED encoded write (crashed group, no manifest): sits
      // above every reference — retention must not touch it
      store.write("ann_encoded", base.encoded.limit(1))
      val expired = Similarity.expireIvfPqVersions(store, "ann", keepLast = 2)
      assert(expired == Map("encoded" -> Seq(0), "centroids" -> Seq(),
        "books" -> Seq(), "manifest" -> Seq(0)))
      assert(store.versions("ann_encoded") == Seq(1, 2, 3),
        "the orphan above the kept references must survive")
      assert(store.versions("ann_manifest") == Seq(1, 2))
      // retired manifest fails BY NAME; kept ones still time travel
      val e = intercept[Exception] { Similarity.loadIvfPq(store, "ann", Some(0)) }
      assert(e.getMessage.contains("retention horizon"))
      assert(Similarity.loadIvfPq(store, "ann", Some(1)).encoded.count() ==
        emb.count() - emb.filter($"vec_id" % 4 === 3).count())
      assert(Similarity.loadIvfPq(store, "ann").encoded.count() == emb.count())
      // idempotent: a second vacuum with the same horizon is a no-op
      assert(Similarity.expireIvfPqVersions(store, "ann", keepLast = 2) ==
        Map("encoded" -> Seq(), "centroids" -> Seq(),
          "books" -> Seq(), "manifest" -> Seq()))
    } finally base.unpersist()
  }

  test("ivfPqRecallDrift: boundary-straddling drift halves recall@2 at nprobe=1 and flips the verdict (q342's exact-value twin)") {
    import spark.implicits._
    def v(entries: (Int, Double)*): Seq[Double] = {
      val a = Array.fill(64)(0.0)
      entries.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // two tight clusters on orthogonal axes, in near-duplicate PAIRS
    // (partners can never straddle a centroid boundary)
    val base = Seq(
      0L -> v(0 -> 1.0, 2 -> 0.01),
      1L -> v(0 -> 1.0, 2 -> 0.01, 3 -> 0.001),
      2L -> v(0 -> 1.0, 4 -> 0.01),
      3L -> v(0 -> 1.0, 4 -> 0.01, 5 -> 0.001),
      4L -> v(1 -> 1.0, 2 -> 0.01),
      5L -> v(1 -> 1.0, 2 -> 0.01, 3 -> 0.001),
      6L -> v(1 -> 1.0, 4 -> 0.01),
      7L -> v(1 -> 1.0, 4 -> 0.01, 5 -> 0.001)
    ).toDF("vec_id", "embedding")
    // one drifted pair ON the midline, each member tilted toward a
    // DIFFERENT centroid: true nearest neighbors, guaranteed-split
    // buckets — the decay fixed centroids cannot represent
    val drift = Seq(
      100L -> v(0 -> 1.3, 1 -> 1.0),
      101L -> v(0 -> 1.0, 1 -> 1.3)
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val store = new graft.core.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-anndrift").toString)
    val idx = Similarity.ivfPqBuild(base, "vec_id", "embedding",
      nCentroids = 2, books)
    try {
      Similarity.saveIvfPq(idx, store, "ann")
      Similarity.appendIvfPq(store, "ann", drift, "vec_id", "embedding")
      val rows = Similarity.ivfPqRecallDrift(store, "ann",
        base.union(drift), "vec_id", "embedding",
        k = 2, nprobe = 1, nEval = 2, thresholdPpm = 900000L)
        .orderBy($"manifest_v")
        .as[(Int, Long, Long, String)].collect().toSeq
      // v0 eval = ids 6,7 (a same-bucket pair): perfect recall. v1
      // eval = the drifted pair: each query finds itself but its
      // partner sits in the OTHER bucket — exactly half the truth.
      assert(rows == Seq(
        (0, 2L, 1000000L, "ok"),
        (1, 2L, 500000L, "retrain")), s"got $rows")
    } finally idx.unpersist()
  }
}
