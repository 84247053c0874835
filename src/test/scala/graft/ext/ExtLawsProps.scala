package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based laws for the curation extensions: packing invariants,
  * sampling determinism/nesting, k-means output contracts, and the
  * injection-safety of the REST query-fragment builder. Small generated
  * inputs — each case runs real Spark jobs (packing/sampling) or pure
  * driver code (k-means, Soql). */
object ExtLawsProps extends Properties("graft.ext") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private lazy val spark = SparkTestSession.get
  import spark.implicits._

  private val genDocs: Gen[List[(Long, Long, String)]] = for {
    n <- Gen.chooseNum(1, 30)
    toks <- Gen.listOfN(n, Gen.chooseNum(0L, 400L))
    langs <- Gen.listOfN(n, Gen.oneOf("en", "es", "de"))
  } yield toks.zip(langs).zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }

  // Curation kernels vs the composed forms they replaced: text over an
  // alphabet of the traps — every line terminator Java's (?m) reads,
  // the ellipsis, bullet and punctuation marks, Unicode case mappings
  // (Kelvin sign, dotted capital I), a surrogate pair, digits — and the
  // kernels' own word lists, so stopword ratios and languages vary.
  private val genPiece: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf((TextOps.EnglishStopwords ++ TextOps.LangStopwords.values.flatten ++
      TextOps.GopherRequiredWords).distinct),
    3 -> Gen.oneOf("study", "Result", "x9", "42", "ab1c", "THE", "Der", "dAs"),
    6 -> Gen.oneOf(" ", " ", "  "),
    5 -> Gen.oneOf("…", "•", "#", ".", "...", ",", "!", "?", ";", ":", "-", "*", "\r", "\n",
      "\r\n", "\t", "\u000B", "\u0085", "\u2028", "\u2029", "\u212A", "\u0130", "0", "7",
      "\ud83d\ude00"))
  private val genTexts: Gen[List[String]] = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n,
    Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""),
      12 -> Gen.chooseNum(1, 200).flatMap(Gen.listOfN(_, genPiece).map(_.mkString)))))

  private def textFrame(texts: List[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t").repartition(2)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  property("TextSignals == the composed regex forms, codegen and interpreted") =
    Prop.forAll(genTexts) { texts =>
      val df = textFrame(texts)
      val t = col("t")
      val expected = sortedRows(df.select(col("id"), TextOpsSpec.normalize(t),
        TextOpsSpec.gopherQuality(t), TextOpsSpec.qualityScore(t), TextOpsSpec.langId(t)))
      Seq(true, false).forall(codegen => TextOpsSpec.withCodegen(spark, codegen)(
        sortedRows(df.select(col("id"), TextOps.normalize(t), TextOps.gopherQuality(t),
          TextOps.qualityScore(t), TextOps.langId(t))) == expected))
    }

  property("MinHashSketch == shingleRows + min(xxhash64) + collect_set, codegen and interpreted") =
    Prop.forAll(genTexts, Gen.chooseNum(1, 3), Gen.chooseNum(1, 6)) { (texts, n, k) =>
      val df = textFrame(texts)
      val expected = sortedRows(TextOpsSpec.minhashSketch(df, "id", "t", k, n))
      Seq(true, false).forall(codegen => TextOpsSpec.withCodegen(spark, codegen)(
        sortedRows(df.select(col("id"),
            graft.functions.MinHashSketch.column(lower(col("t")), k, n).as("s"))
          .filter(col("s").isNotNull).select(col("id"), col("s.sig"), col("s.shingles"))) == expected))
    }

  // Sequence packing: within every partition key, (1) bins are filled in
  // id order with contiguous ids 0..maxBin, (2) every bin except possibly
  // the last STARTED below maxTokens (the straddle rule: a bin closes
  // only once its exclusive prefix sum reaches the cap).
  property("packSequences per-lang: contiguous bins, exclusive-prefix fill rule") =
    Prop.forAll(genDocs) { rows =>
      val max = 512L
      val out = Sampling.packSequences(
        rows.toDF("doc_id", "tok", "lang"), "tok", "doc_id", max, Seq("lang"))
        .select($"lang", $"doc_id", $"tok", $"bin_id")
        .as[(String, Long, Long, Long)].collect().toList
      out.groupBy(_._1).forall { case (_, docs) =>
        val sorted = docs.sortBy(_._2)
        val bins = sorted.map(_._4)
        val contiguous = bins.distinct == (0L to bins.max).toList
        val fillRule = sorted.zip(sorted.scanLeft(0L)(_ + _._3)).forall {
          case ((_, _, _, bin), exclusivePrefix) => bin == exclusivePrefix / max
        }
        contiguous && fillRule
      }
    }

  // Deterministic sampling: (1) same seed ⇒ identical membership across
  // evaluations; (2) a smaller fraction is a SUBSET of a larger one at
  // the same seed (nested samples — the property that lets a pipeline
  // scale a sample up without resampling from scratch).
  property("deterministicSample: stable + nested across fractions (both hash modes)") =
    Prop.forAll(Gen.chooseNum(1L, 500L), Gen.oneOf(true, false)) { (n, portable) =>
      val df = spark.range(n).toDF("id")
      def ids(frac: Double) = Sampling.deterministicSample(df, "id", frac,
        seed = 7L, portable = portable).select("id").as[Long].collect().toSet
      val small = ids(0.2); val big = ids(0.6)
      ids(0.2) == small && small.subsetOf(big)
    }

  private val genVecs: Gen[Array[Array[Double]]] = for {
    n <- Gen.chooseNum(2, 60)
    dim <- Gen.chooseNum(2, 8)
    rows <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-1.0, 1.0)))
  } yield rows.map { v =>
    val nrm = math.sqrt(v.map(x => x * x).sum)
    if (nrm == 0) v.toArray else v.map(_ / nrm).toArray
  }.toArray

  // k-means contract: exactly C centroids, each (near-)unit-norm, and a
  // second run over the same sample is bit-identical (determinism — the
  // property that makes an IVF index rebuildable).
  property("lloyds: C unit centroids, deterministic") = Prop.forAll(genVecs) { sample =>
    val c = 4
    val a = Similarity.lloyds(sample, c, iters = 3)
    val b = Similarity.lloyds(sample, c, iters = 3)
    a.length == c &&
      a.forall(v => math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9 ||
        v.forall(_ == 0.0)) &&
      a.zip(b).forall { case (x, y) => x.sameElements(y) }
  }

  // Global (unpartitioned) packing: the distributed two-phase form must
  // equal the driver-computed exclusive-prefix-sum reference for ANY
  // token sequence and ANY bucket count — including buckets=1 (single
  // range) and buckets > n (empty buckets).
  property("packSequences global: two-phase == exclusive-prefix reference, any bucketing") =
    Prop.forAll(genDocs, Gen.chooseNum(1, 8)) { (rows, buckets) =>
      val max = 512L
      val out = Sampling.packSequences(
        rows.toDF("doc_id", "tok", "lang"), "tok", "doc_id", max,
        partitionCols = Nil, globalBuckets = buckets)
        .select($"doc_id", $"bin_id").as[(Long, Long)].collect().toMap
      val sorted = rows.sortBy(_._1)
      val expect = sorted.zip(sorted.scanLeft(0L)(_ + _._2))
        .map { case ((id, _, _), pre) => id -> pre / max }.toMap
      out == expect
    }

  private val genGraph: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.chooseNum(2, 8)
    m <- Gen.chooseNum(0, 10)
    edges <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L)
    } yield (a, b))
  } yield (n, edges.filter(e => e._1 != e._2))

  // Connected components: the distributed min-label fixpoint must equal
  // a driver-side union-find (roots kept at the component minimum) on
  // any random graph — including duplicate and reversed edges.
  property("connectedComponents == union-find component minima (local, plain AND shortcut modes)") =
    Prop.forAll(genGraph, Gen.oneOf(0, 1 << 20), Gen.oneOf(false, true)) {
      case ((n, edges), localLimit, shortcut) =>
      // localLimit = 0 forces the distributed loop; 2^20 takes the
      // driver-side union-find fast path — both must match the oracle
      val nodes = (0L until n.toLong).toDF("id")
      val e =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b")
      val ccDf = Dedup.connectedComponents(nodes, "id", e, "a", "b",
        shortcut = shortcut, localEdgeLimit = localLimit)
      val cc = ccDf.as[(Long, Long)].collect().toMap
      ccDf.unpersist()
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      cc == expect
    }

  // Warm-start law: a labeling IS its own (star) edge set, so folding
  // epoch-2 edges into epoch-1's labels must equal the one-shot
  // components over all edges — on any random graph and any random
  // split of its edges into two epochs, both execution branches.
  property("connectedComponentsIncremental(labels(E1), E2) == connectedComponents(E1 ++ E2)") =
    Prop.forAll(genGraph, Gen.chooseNum(0, 10), Gen.oneOf(0, 1 << 20)) {
      case ((n, edges), cut, localLimit) =>
      val nodes = (0L until n.toLong).toDF("id")
      def df(es: List[(Long, Long)]) =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else es.toDF("a", "b")
      val (e1, e2) = edges.splitAt(math.min(cut, edges.length))
      val l1 = Dedup.connectedComponents(nodes, "id", df(e1), "a", "b",
        localEdgeLimit = localLimit)
      val warm = Dedup.connectedComponentsIncremental(nodes, "id", l1,
        df(e2), "a", "b", localEdgeLimit = localLimit)
      val oneShot = Dedup.connectedComponents(nodes, "id", df(edges),
        "a", "b", localEdgeLimit = localLimit)
      val got = warm.as[(Long, Long)].collect().toMap
      val want = oneShot.as[(Long, Long)].collect().toMap
      l1.unpersist(); warm.unpersist(); oneShot.unpersist()
      got == want
    }

  // Leakage-safe split law: every doc assigned exactly once, and ALL
  // members of any union-find component share one split — on any
  // random pair graph (the property that makes the split leakage-safe
  // by construction, not by luck of the fixture).
  property("leakageSafeSplit: total assignment, cluster-coherent, deterministic") =
    Prop.forAll(genGraph, Gen.oneOf(false, true)) { case ((n, edges), portable) =>
      val nodes = (0L until n.toLong).toDF("doc_id")
      val e =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b")
      val out = Sampling.leakageSafeSplit(nodes, "doc_id", e, "a", "b",
        trainFraction = 0.5, portable = portable)
        .select($"doc_id", $"split").as[(Long, String)].collect()
      val byDoc = out.toMap
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      out.length == n &&
        out.forall(r => r._2 == "train" || r._2 == "holdout") &&
        (0 until n).forall(i => byDoc(i.toLong) == byDoc(find(i).toLong))
    }

  // Stratified sampling decomposition: the stratified sample restricted
  // to one stratum IS the Bernoulli sample of that stratum at its own
  // fraction (same seed) — mixture targeting is exactly per-stratum
  // deterministic sampling, nothing more.
  property("stratifiedSample == per-stratum deterministicSample at the stratum fraction") =
    Prop.forAll(Gen.chooseNum(1, 60), Gen.oneOf(true, false)) { (n, portable) =>
      val rows = (0 until n).map(i =>
        (i.toLong, Seq("en", "es", "de")(i % 3))).toDF("id", "lang")
      val fr = Map("en" -> 0.5, "es" -> 0.25)
      val got = Sampling.stratifiedSample(rows, "id", "lang", fr,
        default = 0.0, seed = 7L, portable = portable)
        .select($"id").as[Long].collect().toSet
      val expect = fr.toSeq.flatMap { case (l, f) =>
        Sampling.deterministicSample(rows.filter($"lang" === l), "id", f,
          seed = 7L, portable = portable).select($"id").as[Long].collect().toSeq
      }.toSet
      got == expect
    }

  private val genPiiText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf("alpha", "beta", "x1", "-", "@", "dot.dot", "1.2", "http:/x"),
    for {
      u <- Gen.alphaLowerStr; d <- Gen.alphaLowerStr
    } yield s"${u.take(4)}u@${d.take(4)}d.com",
    Gen.chooseNum(0, 255).map(i => s"10.$i.0.$i"),
    Gen.alphaLowerStr.map(s => s"http://${s.take(5)}x.ex/${s.take(3)}")
  )).map(_.mkString(" ").take(300))

  // Scrub laws: idempotent (sentinels can never re-match — they carry
  // no '@', digits, or scheme), and fully clean (zero residual counts).
  property("scrubPii: idempotent and residual-free on arbitrary pii mixtures") =
    Prop.forAll(genPiiText) { t =>
      val df = Seq(Tuple1(t)).toDF("t")
      val once = df.select(TextOps.scrubPii($"t")).as[String].first()
      val twice = Seq(Tuple1(once)).toDF("t")
        .select(TextOps.scrubPii($"t")).as[String].first()
      val (ne, nu, ni) = TextOps.piiCounts($"t")
      val residual = Seq(Tuple1(once)).toDF("t")
        .select(ne, nu, ni).as[(Long, Long, Long)].first()
      twice == once && residual == ((0L, 0L, 0L))
    }

  // Bloom-pruned join law: for ANY big/small key sets (overlapping or
  // not) and any bitmap size, the pruned join equals the plain join —
  // the structural guarantee that makes q96's oracle the plain join.
  property("BloomJoin.prunedJoin == plain join for arbitrary key sets") =
    Prop.forAll(
      Gen.listOf(Gen.chooseNum(0L, 50L)).map(_.take(60)),
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 80L)).map(_.take(10)),
      Gen.oneOf(64, 256, 4096)) { (bigKeys, smallKeys, bits) =>
      val big = bigKeys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("bk", "payload")
      val small = smallKeys.distinct.map(k => (k, s"dim$k")).toDF("sk", "dim")
      val plain = big.join(small, col("bk") === col("sk"))
        .select("bk", "payload", "dim").collect().toSet
      val pruned = graft.operators.BloomJoin
        .prunedJoin(big, "bk", small, "sk", numBits = bits)
        .select("bk", "payload", "dim").collect().toSet
      pruned == plain
    }

  // Count-min law: the estimate NEVER underestimates, and equals the
  // exact count whenever the value's depth rows are collision-free —
  // checked here only as est >= exact plus the global sanity bound
  // Token-budget selection == the greedy reference: sort by
  // (score desc, id), keep every doc whose exclusive prefix sum is
  // under the budget. The distributed two-phase bucket machinery must
  // be invisible in the result for ANY score/token distribution
  // (ties, zeros, empty buckets included).
  private val genScored: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.chooseNum(1, 40)
    rows <- Gen.listOfN(n, for {
      tok <- Gen.chooseNum(0L, 50L)
      q <- Gen.oneOf(0.0, 0.1, 0.25, 0.25, 0.5, 0.9) // deliberate ties
    } yield (tok, q))
  } yield rows.zipWithIndex.map { case ((t, q), i) => (i.toLong, t, q) }

  property("selectByTokenBudget == greedy (score desc, id) reference, ties included") =
    Prop.forAll(genScored, Gen.chooseNum(0L, 600L)) { (rows, budget) =>
      val got = Sampling.selectByTokenBudget(
        rows.toDF("id", "tok", "q"), "tok", "q", "id", budget)
        .select($"id").as[Long].collect().toSet
      var cum = 0L
      val want = rows.sortBy { case (id, _, q) => (-q, id) }
        .flatMap { case (id, tok, _) =>
          val start = cum; cum += tok
          if (start < budget) Some(id) else None
        }.toSet
      got == want
    }

  // Shuffle-into-shards (portable mode) == the md5 arithmetic computed
  // directly on the driver: same shard, same within-shard rank, for
  // arbitrary key sets. Pins the exact hash derivation the DuckDB
  // oracle replays: seed|key md5, first 14 hex chars = the FULL
  // 56-bit hash (the ORDER); shard comes from its mod-1e6 bucket.
  private def md5Full(seed: Long, key: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|$key".getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 14)
    java.lang.Long.parseLong(hex, 16)
  }

  property("shuffleIntoShards(portable) == driver-side md5 reference") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(0L, 100000L)).map(_.distinct)
        .suchThat(_.nonEmpty)) { ids =>
      val got = Sampling.shuffleIntoShards(
        ids.map(Tuple1(_)).toDF("id"), "id", shards = 4, portable = true)
        .select($"id", $"shard", $"pos").as[(Long, Long, Long)].collect().toSet
      val want = ids.map(id => (id, md5Full(42L, id)))
        .groupBy { case (_, h) => (h % 1000000L) % 4 }
        .flatMap { case (shard, members) =>
          members.sortBy { case (id, h) => (h, id) }.zipWithIndex
            .map { case ((id, _), i) => (id, shard, i + 1L) }
        }.toSet
      got == want
    }

  // Per-key cap (portable mode) == the same driver-side reference:
  // within each key, the n survivors are the n smallest by
  // (full 56-bit md5 hash, id) — the full-width order, so the kept
  // subset stays unbiased past bucket-collision scale.
  property("capPerKey(portable) == driver-side md5 reference") =
    Prop.forAll(
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 100000L), Gen.oneOf("a", "b", "c")))
        .map(_.distinctBy(_._1)).suchThat(_.nonEmpty),
      Gen.chooseNum(0, 6)) { (rows, n) =>
      val got = Sampling.capPerKey(
        rows.toDF("id", "k"), "k", "id", n, portable = true)
        .select($"id", $"k").as[(Long, String)].collect().toSet
      val want = rows.groupBy(_._2).flatMap { case (k, members) =>
        members.map(_._1).sortBy(id => (md5Full(42L, id), id)).take(n)
          .map(id => (id, k))
      }.toSet
      got == want
    }

  // est <= total rows (a counter can never exceed the stream length).
  property("countMinFrequency: exact <= estimate <= stream length") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "dd", "ee", "f", "g", "hh"))
        .map(_.take(80)),
      Gen.oneOf(4, 16, 64)) { (values, width) =>
      val df = values.map(Tuple1(_)).toDF("v")
      val exact = values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val est = Sketches.countMinFrequency(df, "v", depth = 3, width = width)
        .as[(String, Long)].collect().toMap
      est.keySet == exact.keySet && exact.forall { case (v, n) =>
        est(v) >= n && est(v) <= values.size
      }
    }

  // Distributed per-key NTILE == the SQL NTILE fill rule computed on
  // the driver: rank within key by (score DESC, id), first (n mod t)
  // tiles take ceil(n/t) rows. Arbitrary key mixes, duplicate scores,
  // any bucket count — the range-bucketed two-phase rank must agree
  // with the serial reference everywhere.
  private val genKeyed: Gen[List[(Long, Long, String)]] = for {
    n <- Gen.chooseNum(1, 60)
    scores <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L))
    keys <- Gen.listOfN(n, Gen.oneOf("en", "es", "de", "fr"))
  } yield scores.zip(keys).zipWithIndex.map { case ((q, k), i) => (i.toLong, q, k) }

  // Largest-remainder apportionment: the targets sum EXACTLY to the
  // budget, shares sum to 1, and the whole table is a pure function of
  // the key histogram (layout-independent by construction).
  property("temperatureMix: exact budget conservation, unit shares") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e")).map(_.take(60)),
      Gen.chooseNum(0L, 500L)) { (keys, budget) =>
      val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "id")
      val out = Sampling.temperatureMix(df, "k", budget)
        .select($"k", $"n_docs", $"share", $"target_docs")
        .as[(String, Long, Double, Long)].collect()
      val counts = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      out.map(_._4).sum == budget &&
        math.abs(out.map(_._3).sum - 1.0) < 1e-9 &&
        out.forall { case (k, n, _, t) => counts(k) == n && t >= 0 }
    }

  // Integer PageRank invariants: every node keeps at least the base
  // mass, total mass never exceeds the initial V·scale (floors only
  // lose), and masses are a pure function of the edge SET.
  property("pageRankInt: base floor, mass sub-conservation, edge-set determinism") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 8L), Gen.chooseNum(0L, 8L)))
        .map(_.take(30))) { edges =>
      val df = edges.toDF("s", "t")
      val out = GraphOps.pageRankInt(df, "s", "t", iterations = 2)
        .as[(Long, Long)].collect().toMap
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val ok = out.keySet == nodes &&
        out.values.forall(_ >= 150000L) &&
        out.values.sum <= nodes.size * 1000000L
      // duplicate edges must not change anything (the op takes the SET)
      val dup = GraphOps.pageRankInt(df.union(df), "s", "t", iterations = 2)
        .as[(Long, Long)].collect().toMap
      spark.catalog.clearCache()
      ok && dup == out
    }

  // The five mergeable-summary classes share one law: sketch(A) merged
  // with sketch(B) == sketch(A ∪ B) for DISJOINT splits. Bloom and
  // histogram joined HLL/CM/KMV in round 10 — pin them under random
  // splits (the fixture contracts pin one split; this pins all).
  property("bloom merge law: any disjoint split's OR-merge == the direct filter") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 3000L)).map(_.take(60)),
      Gen.chooseNum(2L, 5L)) { (vals, mod) =>
      val df = vals.toDF("v")
      def pos(p: org.apache.spark.sql.DataFrame) =
        Sketches.bloomPositions(p, "v", mBits = 256, k = 3).as[Long].collect().toSet
      val shards = (0L until mod).map(i => pos(df.filter($"v" % mod === i)))
      shards.reduce(_ union _) == pos(df)
    }

  property("histogram merge law + conservatism: merged == direct; est >= true quantile") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1000.0)).map(_.take(80))) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        .withColumn("g", lit("g"))
      def st(p: org.apache.spark.sql.DataFrame) =
        Sketches.histState(p, "g", "v", 0.0, 1024.0, 128)
      val a = st(df.filter($"id" % 2 === 0))
      val b = st(df.filter($"id" % 2 =!= 0))
      val merged = Sketches.histMerge("g", a, b)
        .as[(String, Long, Long)].collect().toSet
      val direct = st(df).as[(String, Long, Long)].collect().toSet
      val est = Sketches.histQuantile(Sketches.histMerge("g", a, b),
        "g", 0.5, 0.0, 1024.0, 128).select($"q_est").as[Double].collect().head
      val sorted = vals.sorted
      val trueMedian = sorted((math.ceil(0.5 * vals.size) - 1).toInt.max(0))
      // upper-edge readout: the estimate bounds the true quantile from
      // above, within one bin width (8.0)
      merged == direct && est >= trueMedian && est <= trueMedian + 8.0
    }

  property("incremental MV merge law: any 3-way split merges to the direct rollup") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("x", "y"), Gen.chooseNum(-500.0, 500.0))).map(_.take(40))) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val shards = (0 until 3).map(i =>
        Incremental.aggState(df.filter($"id" % 3 === i), Seq("k"), Seq("v")))
      val merged = Incremental.readout(
          Incremental.mergeStates(Seq("k"), Seq("v"), shards: _*), Seq("k"), Seq("v"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val direct = Incremental.readout(
          Incremental.aggState(df, Seq("k"), Seq("v")), Seq("k"), Seq("v"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      merged == direct
    }

  // Funnel sanity: stage counts are NON-INCREASING whatever the event
  // soup (a later stage requires a strictly-earlier prior stage), and
  // no count exceeds the user universe.
  property("funnel: monotone non-increasing stage counts, bounded by users") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 6L), Gen.chooseNum(0L, 100L),
      Gen.oneOf("a", "b", "c"))).map(_.take(60))) { evs =>
      val df = evs.zipWithIndex.map { case ((u, t, ty), i) =>
        (u, new java.sql.Timestamp(t * 60000L), i.toLong, ty) }
        .toDF("user_id", "ts", "event_id", "event_type")
      val counts = Behavior.funnel(df, "user_id", "ts", "event_type",
          Seq("a", "b", "c"))
        .orderBy($"stage").select($"n_users").as[Long].collect().toList
      val nUsers = evs.map(_._1).distinct.size
      counts.zip(counts.drop(1)).forall { case (hi, lo) => hi >= lo } &&
        counts.head <= nUsers && counts.forall(_ >= 0)
    }

  // SCD2 round trip: for ANY event soup and ANY probe instant, the
  // point-in-time lookup over the intervalized history equals the
  // directly computed "latest value at or before t" — the law that
  // makes the compressed history a faithful substitute for the log.
  property("scd2 + asOf == direct latest-at-instant, for any stream and probe") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 50L),
        Gen.oneOf("A", "B", "C"))).map(_.take(40)),
      Gen.chooseNum(0L, 50L)) { (evs, probeMin) =>
      val rows = evs.zipWithIndex.map { case ((u, m, v), i) =>
        (u, new java.sql.Timestamp(m * 60000L), i.toLong, v) }
      val df = rows.toDF("user_id", "ts", "event_id", "event_type")
      val probe = new java.sql.Timestamp(probeMin * 60000L)
      val got = History.asOf(
          History.scd2(df, "user_id", "ts", "event_type", "event_id"),
          lit(probe))
        .select($"user_id", $"event_type").as[(Long, String)].collect().toMap
      // direct: per user, the value of the last event at or before the
      // probe (ties by event_id — the scd2 ordering)
      val want = rows.filter(!_._2.after(probe))
        .groupBy(_._1)
        .map { case (u, es) => u -> es.maxBy(e => (e._2.getTime, e._3))._4 }
      got == want
    }

  // Winsorize is bounded and monotone: every output lands inside the
  // group's [lo-bound, hi-bound], and the clamp preserves order.
  property("winsorize: outputs within bounds; order-preserving within a group") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0.0, 900.0)).map(_.take(60))) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
        .toDF("id", "g", "v")
      val out = Sketches.winsorize(df, "g", "v", 0.0, 1024.0, 128)
        .select($"id", $"v", $"v_wins").as[(Long, Double, Double)].collect()
      val lo = out.map(_._3).min
      val hi = out.map(_._3).max
      val bounded = out.forall(r => r._3 >= lo && r._3 <= hi)
      val ordered = out.sortBy(_._2).map(_._3).toSeq
      val monotone = ordered.zip(ordered.drop(1)).forall { case (a, b) => a <= b }
      bounded && monotone
    }

  // RRF is monotone in evidence: adding another list never DECREASES
  // any id's fused score, and the scores are the exact floor sums.
  property("rrfFuse: extra lists only add; scores are exact floor sums") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(1L, 9L)).map(_.distinct.take(6)),
      Gen.nonEmptyListOf(Gen.chooseNum(1L, 9L)).map(_.distinct.take(6))) { (ids1, ids2) =>
      def ranked(ids: List[Long]) =
        ids.zipWithIndex.map { case (id, i) => (id, i + 1L) }.toDF("id", "rank")
      val one = Similarity.rrfFuse(Seq(ranked(ids1)), "id", k = 20)
        .as[(Long, Long, Long)].collect().map(t => t._1 -> t._2).toMap
      val both = Similarity.rrfFuse(Seq(ranked(ids1), ranked(ids2)), "id", k = 20)
        .as[(Long, Long, Long)].collect().map(t => t._1 -> t._2).toMap
      val wantOne = ids1.zipWithIndex.map { case (id, i) => id -> 1000L / (10 + i + 1) }.toMap
      one == wantOne &&
        one.forall { case (id, s) => both(id) >= s } &&
        ids2.forall(both.contains)
    }

  // Transition rows are probability-like: per from_type the ppm
  // column floor-sums to ≤ 1e6 (and > 1e6 − |types| — floor loss only),
  // and pair counts conserve the number of adjacent pairs.
  property("transitionMatrix: ppm rows ~sum to 1e6; pair counts conserved") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 80L),
      Gen.oneOf("a", "b", "c"))).map(_.take(50))) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, m, ty), i) =>
        (u, new java.sql.Timestamp(m * 60000L), i.toLong, ty) }
      val df = rows.toDF("user_id", "ts", "event_id", "event_type")
      val out = Behavior.transitionMatrix(df, "user_id", "ts", "event_type", "event_id")
        .as[(String, String, Long, Long)].collect()
      val expectedPairs = rows.groupBy(_._1).values.map(es => es.size - 1).sum
      val byFrom = out.groupBy(_._1)
      out.map(_._3).sum == expectedPairs &&
        byFrom.values.forall { rs =>
          val s = rs.map(_._4).sum
          s <= 1000000L && s > 1000000L - 3 * rs.size - 3
        }
    }

  // keySkew arithmetic invariants: shares are ≤ 1e6 ppm, counts sum
  // to ≤ the total, the hottest key leads, and a UNIFORM key set reads
  // ratio ≈ 1000‰ for every key.
  property("keySkew: ppm bounds, ordering, uniform-ratio sanity") =
    Prop.forAll(Gen.chooseNum(2L, 20L), Gen.chooseNum(1, 5)) { (keys, repeat) =>
      val df = (0L until keys).flatMap(k => (0 until repeat).map(_ => k)).toDF("k")
      val out = graft.operators.SkewJoin.keySkew(df, "k", topN = 50)
        .as[(Long, Long, Long, Long)].collect()
      val ordered = out.map(_._2).toSeq
      ordered.zip(ordered.drop(1)).forall { case (a, b) => a >= b } &&
        out.forall(r => r._3 <= 1000000L) &&
        // uniform: every key holds exactly its fair share (floor loss ≤ keys)
        out.forall(r => math.abs(r._4 - 1000L) <= keys)
    }

  // Drift symmetry: two groups with IDENTICAL distributions read the
  // same TV against the rest, whatever the third group does.
  property("histDriftTV: identical groups read identical drift") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0.0, 900.0)).map(_.take(30)),
      Gen.nonEmptyListOf(Gen.chooseNum(0.0, 900.0)).map(_.take(30))) { (shared, other) =>
      val rows = shared.map(("a", _)) ++ shared.map(("b", _)) ++ other.map(("c", _))
      val out = Sketches.histDriftTV(rows.toDF("g", "v"), "g", "v", 0.0, 1024.0, 128)
        .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
      out("a") == out("b")
    }

  property("ntileByKey == serial NTILE reference for arbitrary keys/ties/tiles") =
    Prop.forAll(genKeyed, Gen.oneOf(1, 2, 3, 5), Gen.oneOf(2, 8, 32)) {
      (rows, tiles, buckets) =>
        val got = Sampling.ntileByKey(
          rows.toDF("id", "q", "k"), "k", "q", "id", tiles, buckets)
          .select($"id", $"tile").as[(Long, Int)].collect().toMap
        val want = rows.groupBy(_._3).flatMap { case (_, members) =>
          val ordered = members.sortBy { case (id, q, _) => (-q, id) }
          val n = ordered.size
          val base = n / tiles; val rem = n % tiles
          ordered.zipWithIndex.map { case ((id, _, _), idx) =>
            val rank = idx + 1
            val thr = (base + 1) * rem
            val tile = if (rank <= thr) (rank + base) / (base + 1)
              else rem + (rank - thr + base - 1) / math.max(base, 1)
            id -> tile
          }
        }
        got == want
    }

  // The distributed exact order statistic against the serial rank
  // reference, for arbitrary keys/ties/quantiles.
  property("exactQuantileByKey == serial rank reference for arbitrary keys/ties/q") =
    Prop.forAll(genKeyed, Gen.oneOf(1L, 250L, 500L, 900L, 1000L),
      Gen.oneOf(2, 8, 32)) { (rows, qpm, buckets) =>
      val got = Sampling.exactQuantileByKey(
          rows.toDF("id", "q", "k"), "k", "q", "id", qpm, buckets)
        .as[(String, Long, Double)].collect()
        .map { case (k, n, v) => k -> (n, v) }.toMap
      val want = rows.groupBy(_._3).map { case (k, members) =>
        val ordered = members.map(m => (m._2.toDouble, m._1)).sorted
        val n = ordered.size.toLong
        val rank = math.max(1L, (qpm * n + 999) / 1000)
        k -> (n, ordered((rank - 1).toInt)._1)
      }
      got == want
    }

  // Degree-ordered triangle enumeration against the brute-force clique
  // check on the normalized undirected edge SET — and invariance under
  // edge reversal + duplication (the orientation is an internal detail,
  // the result is a function of the set).
  property("triangles == brute force; direction/duplication invariant") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 7L)))
        .map(_.take(25))) { edges =>
      val df = edges.toDF("s", "t")
      val got = GraphOps.triangles(df, "s", "t")
        .as[(Long, Long, Long)].collect().toSet
      val rev = GraphOps.triangles(
          df.select($"t".as("s"), $"s".as("t")).union(df), "s", "t")
        .as[(Long, Long, Long)].collect().toSet
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toList.sorted
      val want = (for {
        a <- nodes; b <- nodes if b > a; c <- nodes if c > b
        if und((a, b)) && und((b, c)) && und((a, c))
      } yield (a, b, c)).toSet
      spark.catalog.clearCache()
      got == want && rev == want
    }

  // Attribution conservation: total credited ppm == 1e6 × (users with
  // ≥1 touch strictly before their first conversion), and the touch
  // count matches the reference enumeration exactly.
  property("linearAttribution: exact 1e6 credit per crediting conversion") = {
    val genEv: Gen[List[(Long, Long, String, Long)]] = for {
      n <- Gen.chooseNum(1, 40)
      evs <- Gen.listOfN(n, Gen.zip(
        Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 50L),
        Gen.oneOf("view", "click", "buy")))
    } yield evs.zipWithIndex.map { case ((u, t, ty), i) => (u, t, ty, i.toLong) }
    Prop.forAll(genEv) { evs =>
      val out = Behavior.linearAttribution(
          evs.toDF("u", "ts", "ty", "id"), "u", "ts", "ty", "buy", "id")
        .as[(String, Long, Long)].collect()
      val byUser = evs.groupBy(_._1)
      val refTouches = byUser.toList.flatMap { case (_, rows) =>
        rows.filter(_._3 == "buy").map(_._2).minOption.toList.flatMap { conv =>
          rows.filter(r => r._3 != "buy" && r._2 < conv)
        }
      }
      val creditors = byUser.count { case (_, rows) =>
        rows.filter(_._3 == "buy").map(_._2).minOption
          .exists(conv => rows.exists(r => r._3 != "buy" && r._2 < conv))
      }
      out.map(_._3).sum == creditors * 1000000L &&
        out.map(_._2).sum == refTouches.size &&
        out.map(_._1).toSet == refTouches.map(_._3).toSet
    }
  }

  // Row-level constraint counts are ADDITIVE over any disjoint split
  // (the merge law that makes the audit incremental), and an empty
  // split still reads a well-formed all-zero report.
  property("checkConstraints: row-level violations additive over any split") = {
    import Audit.{Check => C}
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.option(Gen.chooseNum(-50L, 150L))).map(_.take(40)),
      Gen.chooseNum(2L, 4L)) { (vals, mod) =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val checks = Seq(C.notNull("v"), C.inRange("v", 0.0, 99.0))
      def counts(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
        Audit.checkConstraints(d, checks)
          .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val whole = counts(df)
      val parts = (0L until mod).map(k => counts(df.filter($"id" % mod === k)))
      checks.forall(c =>
        parts.map(_(c.name)).sum == whole(c.name))
    }
  }

  // Debounce is IDEMPOTENT: surviving island heads are pairwise more
  // than the gap apart (head(k+1) > last(k) + gap >= head(k) + gap),
  // so a second pass keeps everything — and duplicating the input
  // changes nothing (duplicates join their event's island).
  property("debounce: idempotent; duplicate-invariant; heads pairwise > gap apart") = {
    val genEv: Gen[List[(Long, Long, Long)]] = for {
      n <- Gen.chooseNum(1, 40)
      evs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 400L)))
    } yield evs.zipWithIndex.map { case ((u, t), i) => (u, t, i.toLong) }
    Prop.forAll(genEv, Gen.chooseNum(1L, 60L)) { (evs, gap) =>
      // second-precision fixture: ts as epoch-second timestamps
      val df = evs.map { case (u, t, i) =>
        (u, new java.sql.Timestamp(t * 1000L), i) }.toDF("u", "ts", "id")
      def run(d: org.apache.spark.sql.DataFrame) =
        Behavior.debounce(d, Seq("u"), "ts", gap, "id")
      val once = run(df).select($"u", $"id").as[(Long, Long)].collect().toSet
      val twice = run(run(df)).select($"u", $"id").as[(Long, Long)].collect().toSet
      val kept = run(df).select($"u", $"ts").as[(Long, java.sql.Timestamp)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2.getTime).sorted)
      once == twice &&
        kept.values.forall(ts => ts.zip(ts.drop(1)).forall {
          case (a, b) => b - a > gap * 1000L }) &&
        // duplicating every row must not move the kept (u, ts) SET:
        // duplicates never widen an inter-event gap, so islands — and
        // their head timestamps — are unchanged
        run(df.union(df)).select($"u", $"ts").distinct()
          .as[(Long, java.sql.Timestamp)].collect().toSet ==
          run(df).select($"u", $"ts").distinct()
            .as[(Long, java.sql.Timestamp)].collect().toSet
    }
  }

  // Interval-union measure: duplicating events changes nothing; the
  // union length is bounded by [window, n_events·window] per key.
  property("coveredTime: duplicate-invariant, bounded by island structure") = {
    val genEv: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(1, 40)
      evs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 5000L)))
    } yield evs
    Prop.forAll(genEv, Gen.chooseNum(10L, 300L)) { (evs, win) =>
      val df = evs.map { case (u, t) => (u, new java.sql.Timestamp(t * 1000L)) }
        .toDF("u", "ts")
      def run(d: org.apache.spark.sql.DataFrame) =
        Behavior.coveredTime(d, "u", "ts", win)
          .as[(Long, Long, Long)].collect()
          .map { case (u, a, b) => u -> (a, b) }.toMap
      val once = run(df)
      val dup = run(df.union(df))
      val counts = evs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      once == dup && once.forall { case (u, (islands, sec)) =>
        islands >= 1 && sec >= win && sec <= counts(u) * win &&
          sec >= islands * win // every island is at least one window long
      }
    }
  }

  // k-anonymity histogram identities: rows and groups are conserved,
  // and the at-risk flag is exactly the size<k predicate.
  property("kAnonymity: row/group conservation; at-risk == size<k") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 5L), Gen.oneOf("a", "b")))
        .map(_.take(50)),
      Gen.chooseNum(2L, 6L)) { (rows, k) =>
      val out = Audit.kAnonymity(rows.toDF("q1", "q2"), Seq("q1", "q2"), k)
        .as[(Long, Long, Long, Long)].collect()
      val sizes = rows.groupBy(identity).map(_._2.size.toLong)
      out.map(_._3).sum == rows.size.toLong &&
        out.map(_._2).sum == sizes.size.toLong &&
        out.forall { case (sz, ng, nr, risk) =>
          nr == sz * ng && risk == (if (sz < k) 1L else 0L) }
    }

  // Incognito pruning law: on NESTED ladders the pruned sweep's
  // k-anonymous verdicts match the full enumeration node for node,
  // evaluated nodes carry the full sweep's exact profile, and every
  // inferred node is dominated by some evaluated-or-inferred
  // k-anonymous node (monotonicity is never assumed beyond its license).
  property("kAnonymityLatticePruned == kAnonymityLattice verdicts on random nested ladders") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 99L), Gen.chooseNum(0L, 9L)))
        .map(_.take(60)),
      Gen.chooseNum(2L, 5L)) { (rows, k) =>
      val df = rows.toDF("v", "w")
      // nested by construction: each level a coarser div of the previous
      val specs = Seq(
        "v" -> Seq(col("v"), (col("v") / 10).cast("long"),
          (col("v") / 100).cast("long"), lit("*")),
        "w" -> Seq(col("w"), (col("w") / 5).cast("long"), lit("*")))
      type Node = (Long, Long)
      val full = Audit.kAnonymityLattice(df, specs, k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val pruned = Audit.kAnonymityLatticePruned(df, specs, k)
        .collect().map { r =>
          (r.getLong(0), r.getLong(1)) ->
            (Option(r.get(2)), Option(r.get(3)), Option(r.get(4)),
              r.getAs[Long]("k_anonymous"), r.getAs[Long]("evaluated"))
        }.toMap
      def dominates(a: Node, c: Node) =
        a != c && a._1 <= c._1 && a._2 <= c._2
      pruned.keySet == full.keySet &&
        pruned.forall { case (node, (ng, mn, ar, anon, ev)) =>
          val f = full(node)
          anon == f._4 &&
            (if (ev == 1L) (ng, mn, ar) == (Some(f._1), Some(f._2), Some(f._3))
             else ng.isEmpty && mn.isEmpty && ar.isEmpty && anon == 1L &&
               pruned.keys.exists(a => dominates(a, node) && full(a)._4 == 1L))
        } &&
        // evaluated is the closed form: no strictly-dominated anon node
        pruned.forall { case (node, (_, _, _, _, ev)) =>
          val hasDomAnon = full.keys.exists(a => dominates(a, node) && full(a)._4 == 1L)
          ev == (if (hasDomAnon) 0L else 1L)
        }
    }

  // the pruning license is VALIDATED: a non-nested ladder must be
  // refused by name, not silently mis-inferred
  property("kAnonymityLatticePruned refuses non-nested ladders loudly") =
    Prop.forAll(Gen.chooseNum(2L, 5L)) { k =>
      val df = (0L to 9L).map(v => (v, v)).toDF("v", "w")
      // level 1 = v % 3 is NOT a function of level 0's... it is; make
      // level 2 non-nested in level 1: v / 2 is not a function of v % 3
      val specs = Seq("v" -> Seq(col("v"), (col("v") % 3).cast("long"),
        (col("v") / 2).cast("long")))
      val e = scala.util.Try(Audit.kAnonymityLatticePruned(df, specs, k))
      e.isFailure && e.failed.get.getMessage.contains("NEST")
    }

  private val genTwoSamples: Gen[(List[Long], List[Long])] = for {
    a <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 20L)).map(_.take(40))
    b <- Gen.nonEmptyListOf(Gen.chooseNum(0L, 20L)).map(_.take(40))
  } yield (a, b)

  // Mann–Whitney antisymmetry: every A–B pair awards 2 points total
  // (2 to the winner, 1 each on a tie), so u2(A,B) + u2(B,A) = 2·nA·nB.
  property("rankSumTest: u2(A,B) + u2(B,A) == 2·nA·nB; AUCs complement") =
    Prop.forAll(genTwoSamples) { case (a, b) =>
      val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v")
      val ab = Stats.rankSumTest(df, "g", "A", "B", "v").collect().head
      val ba = Stats.rankSumTest(df, "g", "B", "A", "v").collect().head
      val n2 = 2L * a.size * b.size
      ab.getAs[Long]("u2") + ba.getAs[Long]("u2") == n2 &&
        // floor(x) + floor(1e6 − x) ∈ {1e6 − 1, 1e6}
        (ab.getAs[Long]("auc_ppm") + ba.getAs[Long]("auc_ppm") - 1000000L).abs <= 1L
    }

  // KS is symmetric in the two samples: |F_A − F_B| = |F_B − F_A|.
  property("ksTest: D and its argmax are direction-symmetric") =
    Prop.forAll(genTwoSamples) { case (a, b) =>
      val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v")
      val ab = Stats.ksTest(df, "g", "A", "B", "v").collect().head
      val ba = Stats.ksTest(df, "g", "B", "A", "v").collect().head
      ab.getAs[Long]("d_ppm") == ba.getAs[Long]("d_ppm") &&
        ab.getAs[Long]("at_value") == ba.getAs[Long]("at_value")
    }

  // Spearman: symmetric in its arguments, and 1 on any self-pairing
  // with at least two distinct values (zero-variance reads NULL).
  property("spearman: symmetric; self-correlation is 1") =
    Prop.forAll(Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))) { xs =>
      val df = xs.toDF("x", "y")
      val xy = Stats.spearman(df, "x", "y").collect().head.getAs[java.lang.Double]("spearman")
      val yx = Stats.spearman(df, "y", "x").collect().head.getAs[java.lang.Double]("spearman")
      val self = Stats.spearman(df, "x", "x").collect().head.getAs[java.lang.Double]("spearman")
      val symmetric = (xy == null && yx == null) ||
        (xy != null && yx != null && math.abs(xy - yx) < 1e-12)
      val selfOk =
        if (xs.map(_._1).distinct.size < 2) self == null
        else self != null && math.abs(self - 1.0) < 1e-12
      symmetric && selfOk
    }

  // THE GUARD-CLASS LAW (428abfd fixed degenerate denominators in four
  // operators after review caught ONE — this pins the whole class so a
  // new ratio operator can't reintroduce it): every ratio-returning
  // Stats/Sampling operator, driven over the canonical degenerate
  // shapes — empty input, single-arm, all-zero values, one row, and
  // all-NULL values — must return NULL in its ratio column (or an
  // empty/zero-ratio frame), NEVER an ANSI DIVIDE_BY_ZERO /
  // ARITHMETIC_OVERFLOW throw or a NaN-floor crash.
  private val degenerateShapes =
    Seq("empty", "singleArm", "allZero", "oneRow", "nullV")

  property("guard-class law: ratio operators are NULL-not-throw on degenerate inputs") =
    Prop.forAll(Gen.oneOf(degenerateShapes)) { shape =>
      val df = (shape match {
        case "empty"     => Seq.empty[(String, Long, Option[Long])]
        case "singleArm" => Seq(("a", 1L, Some(5L)), ("a", 2L, Some(7L)))
        case "allZero"   => Seq(("a", 1L, Some(0L)), ("a", 2L, Some(0L)),
                                ("b", 1L, Some(0L)), ("b", 2L, Some(0L)))
        case "oneRow"    => Seq(("a", 1L, Some(3L)))
        case "nullV"     => Seq(("a", 1L, Option.empty[Long]),
                                ("b", 2L, Option.empty[Long]))
      }).toDF("g", "t", "v")
      val counts = (shape match {
        case "empty" => Seq.empty[(Long, Long, Long, Long)]
        case "singleArm" => Seq((10L, 5L, 0L, 0L))
        case "oneRow" => Seq((10L, 10L, 10L, 10L)) // all-win: p(1-p) = 0
        case _ => Seq((0L, 0L, 0L, 0L))
      }).toDF("na", "xa", "nb", "xb")
      val battery: Seq[(String, () => Unit)] = Seq(
        "welchT" -> (() => Stats.welchT(df, "g", "a", "b", "v").collect()),
        "standardizedMeanDiff" -> (() =>
          Stats.standardizedMeanDiff(df, "g", "a", "b", "v").collect()),
        "rankSumTest" -> (() =>
          Stats.rankSumTest(df, "g", "a", "b", "v").collect()),
        "ksTest" -> (() => Stats.ksTest(df, "g", "a", "b", "v").collect()),
        "cvmTest" -> (() => Stats.cvmTest(df, "g", "a", "b", "v").collect()),
        "signTest" -> (() =>
          Stats.signTest(df, "t", "g", "a", "b", "v").collect()),
        "diffInDiff" -> (() => Stats.diffInDiff(
          df.withColumn("p", col("t") % 2L), "g", "a", "b", "p", "v").collect()),
        "theilSen" -> (() => Stats.theilSen(df, "g", "t", "v").collect()),
        "autocorr" -> (() => Stats.autocorr(df, "g", "t", "v", 2).collect()),
        "runsTest" -> (() => Stats.runsTest(df, "g", "t", "v").collect()),
        "mannKendall" -> (() => Stats.mannKendall(df, "g", "t", "v").collect()),
        "seasonalDecompose" -> (() => Stats.seasonalDecompose(
          df.withColumn("dow", col("t") % 7L), "g", "t", "dow", "v").collect()),
        "ewmaExact" -> (() => Stats.ewmaExact(df, "g", "t", "v").collect()),
        "chiSquare" -> (() => Stats.chiSquare(df, "g", "t").collect()),
        "cramersV" -> (() => Stats.cramersV(df, "g", "t").collect()),
        "spearman" -> (() => Stats.spearman(df, "t", "v").collect()),
        "cohensKappa" -> (() => Stats.cohensKappa(df, "t", "v").collect()),
        "calibrationBins" -> (() =>
          Stats.calibrationBins(df, "v", "t", 4).collect()),
        "conformalQuantile" -> (() =>
          Stats.conformalQuantile(df, "g", "v", "t", 100000L).collect()),
        "twoProportionZ" -> (() =>
          Stats.twoProportionZ(counts, "na", "xa", "nb", "xb").collect()),
        "minDetectableEffect" -> (() =>
          Stats.minDetectableEffect(counts, "na", "xa", "nb", "xb").collect()),
        "cumulativeShare" -> (() =>
          Sampling.cumulativeShare(df, "g", "v").collect()))
      val noThrow = battery.map { case (name, run) =>
        try { run(); true } catch {
          case e: Throwable =>
            println(s"guard-class violation: $name threw on '$shape': $e")
            false
        }
      }.forall(identity)
      // the 428abfd four additionally pin NULL, not just no-throw
      val smd = Stats.standardizedMeanDiff(df, "g", "a", "b", "v")
        .collect().head
      val smdNull = smd.isNullAt(smd.fieldIndex("smd_milli"))
      val mdeNull = Stats.minDetectableEffect(counts, "na", "xa", "nb", "xb")
        .collect().forall(r => r.isNullAt(r.fieldIndex("mde_ppm")))
      val zNull = Stats.twoProportionZ(counts, "na", "xa", "nb", "xb")
        .collect().forall(r => r.isNullAt(r.fieldIndex("z_milli")))
      val shareNull = Sampling.cumulativeShare(df, "g", "v").collect()
        .forall(r => shape == "singleArm" || shape == "oneRow" ||
          r.isNullAt(r.fieldIndex("cum_share_ppm")))
      noThrow && smdNull && mdeNull && zNull && shareNull
    }
}
