package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"

  private lazy val docs = Seq(
    (1L, base),
    (2L, base),                                    // exact dup of 1
    (3L, base.replace("green", "blue")),           // near dup of 1
    (4L, "completely different content about spark query engines and distributed execution plans"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps the min-id row per duplicate group") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L, 5L))
  }

  test("keepLatest: last by orderCol wins, tie broken deterministically") {
    val ev = Seq((1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (1L, 20L, 99L, "c"),
      (2L, 5L, 50L, "d")).toDF("k", "ts", "seq", "v")
    val out = Dedup.keepLatest(ev, Seq("k"), "ts", Some("seq"))
      .select("v").as[String].collect().toSet
    assert(out == Set("b", "d")) // k=1: ts=20 wins, seq=101 breaks the tie
  }

  test("minhash+LSH finds exact and near duplicates, not unrelated docs") {
    val nd = Dedup.minhashNearDupsReleasable(docs, "doc_id", "text", threshold = 0.5)
    val pairs = nd.result.select("a", "b").as[(Long, Long)].collect().toSet
    nd.release()
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("weightedMinhashNearDups: tf-weighted Jaccard, hand-checked; weights change the verdict set-Jaccard can't see") {
    import spark.implicits._
    // A and B share the same word SET but very different word MASS:
    // A says "spark" once in ten filler words; B says it ten times.
    // Set-Jaccard(A,B) over words = 1.0-ish; weighted is low.
    val a = "spark " + (1 to 10).map(i => s"filler$i").mkString(" ")
    val b = ("spark " * 10).trim + " " + (1 to 10).map(i => s"filler$i").mkString(" ")
    // C is a verbatim copy of A — weighted Jaccard 1.0
    val docs = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
    // shingleN = 1 pins the textbook word-tf basis the hand math
    // below assumes (the DEFAULT is the non-degenerate 3-gram basis)
    val out = Dedup.weightedMinhashNearDupsReleasable(docs, "doc_id", "text",
        thresholdPpm = 0L, k = 16, bands = 4, weightCap = 8, shingleN = 1)
      .result.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // verbatim pair: full weighted mass shared
    assert(out((1L, 3L)) == 1000000L, out.toString)
    // hand check (1,2): tf_A = {spark:1, filler*:1 ×10} Σ=11;
    // tf_B = {spark:8 (capped), filler*:1 ×10} Σ=18;
    // Σmin = 1 + 10 = 11; J_w = 11 / (11 + 18 − 11) = 11/18
    val expect12 = 1000000L * 11 / 18
    assert(out.get((1L, 2L)).forall(_ == expect12), out.toString)
    // the SET near-dup path would have called (1,2) identical-ish:
    // word sets are equal, so 1-gram set Jaccard is exactly 1.0 —
    // weighted is the only form that separates them
    assert(expect12 < 650000L)
    spark.catalog.clearCache()
  }

  test("weightedMinhashNearDups: bucket-occupancy tripwire fails loudly on a degenerate basis") {
    import spark.implicits._
    // 12 docs all dominated by the same stop-word mass: with the
    // word-tf basis (n = 1) every signature's minimum is a "the#r"
    // replica, so all docs collapse into the same band buckets —
    // the measured degeneracy in miniature. maxBucketSize = 4 makes
    // the in-plan guard trip instead of letting the candidate join
    // go quadratic.
    val deg = (1 to 12).map(i =>
      (i.toLong, ("the " * 20).trim + s" unique$i")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.weightedMinhashNearDupsReleasable(deg, "doc_id", "text",
        thresholdPpm = 0L, k = 16, bands = 4, weightCap = 8,
        shingleN = 1, maxBucketSize = 4).result.collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxBucketSize"), s"unexpected error: $ex")
    spark.catalog.clearCache()
  }

  test("weightedMinhashNearDups: default basis is the non-degenerate 3-gram; guard passes on healthy corpora") {
    import spark.implicits._
    // The same degenerate corpus is FINE under the default n = 3
    // basis (gram mass is discriminative), and a verbatim pair still
    // surfaces at full weighted mass.
    val docsN = Seq(
      (1L, base), (2L, base),
      (3L, "completely different content about spark query engines")
    ).toDF("doc_id", "text")
    spark.catalog.clearCache() // isolate: only THIS call's cache below
    val handle = Dedup.weightedMinhashNearDupsReleasable(docsN, "doc_id",
      "text", thresholdPpm = 500000L, maxBucketSize = 4)
    val out = handle.result.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) == 1000000L, out.toString)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "materializing the result must have built the tf cache")
    handle.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must drop the tf cache this call created")
  }

  test("exact n-gram jaccard: hand-checked value") {
    val two = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // shingles(3): {abc, bcd} vs {abc, bce} -> |∩|=1, |∪|=3
    val j = Dedup.ngramJaccardPairs(two, "doc_id", "text", threshold = 0.0)
      .select("jaccard").as[Double].first()
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("simhash: identical docs have distance 0 and are found; near dups close") {
    val sig = Dedup.simhashSignature(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    val d13 = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val d14 = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(d13 < d14, s"near-dup distance $d13 should be < unrelated $d14")
    val nd = Dedup.simhashNearDups(docs, "doc_id", "text", maxDistance = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(nd.contains((1L, 2L)))
  }

  test("winnowing: shared passage of >= window+k-1 tokens guarantees a shared fingerprint") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  // 10 tokens
    val two = Seq(
      (1L, s"unique first words before $passage and a very different tail here"),
      (2L, s"completely other opening text $passage closing in another way entirely"),
      (3L, "no overlap with anything else whatsoever in this particular document text")
    ).toDF("doc_id", "text")
    // k=5, window=4 -> guarantee threshold = 8 tokens; the 10-token
    // passage must produce at least one common fingerprint
    val fp = TextOps.winnowingFingerprints(two, "doc_id", "text", k = 5, window = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    val pairs = Dedup.winnowingNearDups(two, "doc_id", "text",
      k = 5, window = 4, minShared = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowing maxDf drops boilerplate fingerprints, keeps genuine shared passages") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  // 10 tokens
    val boiler = "standard legal disclaimer footer text appended verbatim to every single document in this corpus"  // 15 tokens
    val docs = (Seq(
      (1L, s"first unique opening words $passage and then $boiler"),
      (2L, s"second other beginning text $passage followed by $boiler")) ++
      (3L to 12L).map(i => (i, s"document number $i distinct words x${i * 7} y${i * 13} $boiler")))
      .toDF("doc_id", "text")
    // uncapped: the boilerplate makes everyone pair with everyone
    val uncapped = Dedup.winnowingNearDups(docs, "doc_id", "text",
      k = 5, window = 4, minShared = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.exists(p => p._1 >= 3L), "boilerplate should pair docs 3..12 uncapped")
    // capped: boilerplate fingerprints (df = 12) drop; the genuine
    // shared passage (df = 2) still pairs 1-2; docs 3..12 fall apart
    val capped = Dedup.winnowingNearDups(docs, "doc_id", "text",
      k = 5, window = 4, minShared = 1, maxDf = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)), s"real passage must survive the cap: $capped")
    assert(!capped.exists(p => p._1 >= 3L && p._2 >= 3L),
      s"boilerplate-only pairs must be gone: $capped")
  }

  test("embedding near-dups: LSH candidates recover the brute-force pairs") {
    val emb = graft.core.Fx.t(spark, sfDir, "embeddings")
    val brute = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.4, bruteForce = true).select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.4).select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), "LSH must not invent pairs (it verifies exactly)")
    assert(brute.nonEmpty)
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.3, s"LSH recall $recall too low (16 planes, 4-bit bands)")
  }

  test("connected components: chains, cliques, singletons; min id labels the cluster") {
    val nodes = (1L to 10L).toDF("id")
    // path 1-2-3-4-5 (diameter 4), pair 6-7, singletons 8,9,10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("a", "b")
    val ccDf = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
    val cc = ccDf.as[(Long, Long)].collect().toMap
    ccDf.unpersist()
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 8L, 9L -> 9L, 10L -> 10L))
    // edge direction must not matter
    val ccRevDf = Dedup.connectedComponents(nodes, "id",
      edges.select($"b".as("a"), $"a".as("b")), "a", "b")
    val ccRev = ccRevDf.as[(Long, Long)].collect().toMap
    ccRevDf.unpersist()
    assert(ccRev == cc)
    // refusing to return a partial labeling: a 5-path cannot settle in
    // 1 round (localEdgeLimit = 0 forces the distributed loop — the
    // small-graph fast path would solve it driver-side without rounds)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", edges, "a", "b", maxIter = 1,
        localEdgeLimit = 0).count()
    }
  }

  test("connected components: q259's chain-graph closed form on the distributed loop") {
    // the q259 gate constants: 3n/4 arithmetic chain edges genuinely
    // exceed the ACTUAL default union-find budget (the named constant
    // the signature defaults to, not a copied literal), so the GATE
    // run provably takes the distributed branch — a future budget bump
    // past 1,065,000 edges fails here, not silently in the gate
    assert(1420000L * 3 / 4 > Dedup.DefaultLocalEdgeLimit.toLong)
    // same chain topology at test scale, loop FORCED (localEdgeLimit=0),
    // pointer-doubling on: every label must equal the closed form
    // cluster = id - id % 4
    val n = 4000L
    val nodes = spark.range(n).select($"id")
    val edges = spark.range(n).filter($"id" % 4 =!= 3)
      .select($"id".as("a"), ($"id" + 1L).as("b"))
    val ccDf = Dedup.connectedComponents(nodes, "id", edges, "a", "b",
      shortcut = true, localEdgeLimit = 0)
    val bad = ccDf.filter($"cluster_id" =!= $"id" - $"id" % 4).count()
    val total = ccDf.count()
    ccDf.unpersist()
    assert(total == n)
    assert(bad == 0L, s"$bad chain nodes mislabeled")
  }

  test("auto-shortcut: a deep chain that plain propagation cannot finish converges once pointer doubling engages") {
    val n = 151L // one chain, diameter 150
    val nodes = spark.range(n).select($"id")
    val edges = spark.range(n - 1).select($"id".as("a"), ($"id" + 1L).as("b"))
    // pre-r14 behavior (autoShortcutAfter = 0): plain propagation
    // needs ~150 rounds — refuses loudly at maxIter
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", edges, "a", "b", maxIter = 18,
        localEdgeLimit = 0, autoShortcutAfter = 0).count()
    }
    // the default decision rule: 8 plain rounds demonstrate the long
    // path, pointer doubling engages, and the SAME round budget
    // converges (reach doubles per doubled round: 8→17→35→71→143→287)
    val lab = Dedup.connectedComponents(nodes, "id", edges, "a", "b",
      maxIter = 18, localEdgeLimit = 0)
    assert(lab.count() == n)
    assert(lab.filter($"cluster_id" =!= 0L).count() == 0L)
    lab.unpersist()
  }

  test("assumeConvergedAfter: a true bound replays the unhinted fixpoint; an understated one returns non-converged labels") {
    val n = 4000L
    val nodes = spark.range(n).select($"id")
    val edges = spark.range(n).filter($"id" % 4 =!= 3)
      .select($"id".as("a"), ($"id" + 1L).as("b"))
    // diameter-3 chains converge in 2 pointer-doubled rounds: the hint
    // skips ONLY the confirming round, labels identical to closed form
    val hinted = Dedup.connectedComponents(nodes, "id", edges, "a", "b",
      shortcut = true, localEdgeLimit = 0, assumeConvergedAfter = Some(2))
    val bad = hinted.filter($"cluster_id" =!= $"id" - $"id" % 4).count()
    assert(hinted.count() == n)
    hinted.unpersist()
    assert(bad == 0L, s"$bad mislabeled under a TRUE round bound")
    // the knob is caller-owned truth: bound 1 stops a round early and
    // hands back a NON-fixpoint labeling with no error — callers must
    // hash-pin (q259 does); this pins the documented failure mode
    val lied = Dedup.connectedComponents(nodes, "id", edges, "a", "b",
      shortcut = true, localEdgeLimit = 0, assumeConvergedAfter = Some(1))
    val notConverged = lied.filter($"cluster_id" =!= $"id" - $"id" % 4).count()
    lied.unpersist()
    assert(notConverged > 0L,
      "an understated bound should have returned a partial labeling")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, "id", edges, "a", "b",
        assumeConvergedAfter = Some(0))
    }
  }

  test("warm-start CC: epoch-2 edges merge epoch-1 clusters through the label frame") {
    val nodes = (1L to 6L).toDF("id")
    val l1Df = Dedup.connectedComponents(nodes, "id",
      Seq((1L, 2L), (4L, 5L)).toDF("a", "b"), "a", "b")
    // epoch 2: (2,3) extends cluster {1,2}; (3,4) then MERGES it with
    // {4,5} — the new minimum must flow across both old clusters
    val warm = Dedup.connectedComponentsIncremental(nodes, "id", l1Df,
      Seq((2L, 3L), (3L, 4L)).toDF("a", "b"), "a", "b")
    val got = warm.as[(Long, Long)].collect().toMap
    l1Df.unpersist(); warm.unpersist()
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L))
  }

  test("connected components: unparseable edge ids fail loudly, widening casts pass") {
    val nodes = (1L to 4L).toDF("id")
    // a string edge id that does not parse as long would cast to NULL
    // and silently drop the edge (splitting cluster {1,2}) — must throw
    val badEdges = Seq(("1", "2"), ("oops", "3")).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, "id", badEdges, "a", "b")
    }
    assert(ex.getMessage.contains("do not cast"))
    // int edge ids against long node ids widen losslessly — allowed
    val intEdges = Seq((1, 2), (3, 4)).toDF("a", "b")
    val ccDf = Dedup.connectedComponents(nodes, "id", intEdges, "a", "b")
    val cc = ccDf.as[(Long, Long)].collect().toMap
    ccDf.unpersist()
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("incrementalExactReleasable: release() drops exactly the two fingerprint caches") {
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq((10L, "delta text"), (11L, "alpha text")).toDF("doc_id", "text")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val inc = Dedup.incrementalExactReleasable(batch, corpus, "text",
      bloomBits = 1 << 12)
    assert(inc.result.select($"doc_id").as[Long].collect().toSet == Set(10L))
    inc.release()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before,
      s"release() must drop the operator's own caches: $before -> $after")
  }

  test("incrementalNearDups: rewrites pair with their corpus source, cross-set only") {
    val corpus = Seq(
      (1L, base),
      (2L, "totally different corpus content about databases and storage engines running fast")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("green", "blue")),      // light rewrite of corpus 1
      (11L, "fresh novel content that matches nothing in the existing corpus at all today"),
      (12L, base),                                // verbatim resubmission
      (13L, base.replace("green", "teal"))        // near-dup of 10 — batch-INTERNAL, must not appear
    ).toDF("doc_id", "text")
    val nd = Dedup.incrementalNearDups(batch, corpus, "doc_id", "text",
      threshold = 0.5, k = 16, bands = 4)
    val pairs = nd.result.select("a", "b").as[(Long, Long)].collect().toSet
    nd.release()
    assert(pairs.contains((10L, 1L)), s"rewrite must match its source: $pairs")
    assert(pairs.contains((12L, 1L)), s"verbatim resubmission must match: $pairs")
    assert(!pairs.exists(_._1 == 11L), s"novel doc must not match: $pairs")
    // strictly cross-set: no batch-batch or corpus-corpus pairs
    assert(pairs.forall { case (a, b) => a >= 10L && b < 10L }, pairs.toString)
  }

  test("ingest-loop composition: a persisted corpus signature reused across batches equals the one-shot API") {
    val corpus = Seq((1L, base), (2L, "unrelated corpus material entirely")).toDF("doc_id", "text")
    val batches = Seq(
      Seq((10L, base.replace("green", "blue")), (11L, "novel one")).toDF("doc_id", "text"),
      Seq((20L, base), (21L, "novel two entirely different")).toDF("doc_id", "text"))
    // signature pass over the corpus ONCE, reused for every batch
    val cs = Dedup.minhashSignature(corpus, "doc_id", "text", k = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try batches.foreach { b =>
      val bs = Dedup.minhashSignature(b, "doc_id", "text", k = 16)
      val composed = Dedup.jaccardVerifyAcross(
        Dedup.lshCandidatesAcross(bs, cs, "doc_id", k = 16, bands = 4),
        b, corpus, "doc_id", "text")
        .filter($"jaccard" >= 0.5)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val nd = Dedup.incrementalNearDups(b, corpus, "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4)
      val oneShot = nd.result.select("a", "b").as[(Long, Long)].collect().toSet
      nd.release()
      assert(composed == oneShot, s"composition diverged: $composed vs $oneShot")
    } finally cs.unpersist()
  }

  test("incrementalExact: resubmitted content drops, novel content survives bloom FPs") {
    val corpus = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "gamma text"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "delta text"),   // novel
      (11L, "Beta   Text"),  // resubmission (normalizes to corpus doc 2)
      (12L, "epsilon text"), // novel
      (13L, "alpha text")    // resubmission, verbatim
    ).toDF("doc_id", "text")
    // minimal bitmap (64 bits, 3 keys × 5 probes): high FP probability
    // by construction — novel docs must STILL survive via the verifying
    // anti-join, resubmissions must still drop
    def kept(bloomBits: Int): Set[Long] = {
      val inc = Dedup.incrementalExactReleasable(batch, corpus, "text", bloomBits)
      try inc.result.select($"doc_id").as[Long].collect().toSet
      finally inc.release()
    }
    assert(kept(64) == Set(10L, 12L))
    // and with a roomy bitmap the same answer
    assert(kept(1 << 12) == Set(10L, 12L))
  }

  test("releasable near-dup forms drop exactly their own caches (ingest loops stay flat)") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    // id-set assertions (not counts): the shared session's
    // ContextCleaner may drop OTHER suites' dying caches concurrently,
    // so only "every id this pass created is gone after release()" is
    // stable across a full sequential run
    def ids() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids()
    val nd = Dedup.minhashNearDupsReleasable(docs, "doc_id", "text",
      threshold = 0.5, k = 8, bands = 4)
    nd.result.count()
    val created = ids() -- before
    assert(created.nonEmpty, "the pass must have created caches")
    nd.release()
    assert((ids() & created).isEmpty,
      "release() must drop the shingle and signature caches")
    // the per-epoch streaming form likewise
    val sigs = Dedup.minhashSignature(docs, "doc_id", "text", k = 8).persist()
    sigs.count()
    val base = ids()
    val epoch = Dedup.incrementalNearDupsWithSigsReleasable(
      docs.withColumn("doc_id", col("doc_id") + 10), sigs, docs,
      "doc_id", "text", threshold = 0.5, k = 8, bands = 4)
    epoch.result.count()
    val epochCreated = ids() -- base
    assert(epochCreated.nonEmpty, "the epoch must have created caches")
    epoch.release()
    assert((ids() & epochCreated).isEmpty,
      "epoch release() must drop the batch shingle + candidate caches")
    sigs.unpersist()
  }

  test("duplicatedSpans: cross-doc runs merge to maximal spans; within-doc repeats don't qualify") {
    val boiler = (1 to 10).map(i => s"tok$i").mkString(" ") // 10-token shared run
    val docs = Seq(
      (1L, s"unique one two three $boiler tail a b c"),
      (2L, s"$boiler other words entirely different from before here now"),
      // the same 8-gram twice WITHIN one doc, in no other doc — distinct
      // doc count is 1, so it must not surface
      (3L, ("x1 x2 x3 x4 x5 x6 x7 x8 filler " * 2).trim)
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text",
      gramLen = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: boiler occupies token positions 4..13; full 8-grams inside
    // it start at 4, 5, 6 → ONE merged span [4, 13] of 3 grams
    // doc 2: boiler at 0..9 → span [0, 9] of 3 grams
    assert(spans == Set((1L, 4L, 13L, 3L), (2L, 0L, 9L, 3L)), s"got $spans")
    // portable mode agrees (different hash family, same spans)
    val p = Dedup.duplicatedSpans(docs, "doc_id", "text",
      gramLen = 8, minDocs = 2, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(p == spans)
  }

  test("removeDuplicatedSpans excises exactly the covered tokens; untouched docs round-trip") {
    val boiler = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"unique one two three $boiler tail a b c"),
      (2L, s"$boiler other words entirely different from before here now"),
      (3L, "completely unrelated text that survives intact")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text",
      gramLen = 8, minDocs = 2)
    val out = Dedup.removeDuplicatedSpans(docs, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 loses tokens 4..13 (the boiler); doc 2 loses 0..9
    assert(out(1L) == "unique one two three tail a b c", s"got ${out(1L)}")
    assert(out(2L) == "other words entirely different from before here now")
    // untouched doc: tokenized round trip (lossy normalization only)
    assert(out(3L) == "completely unrelated text that survives intact")
    // a doc fully covered by a span yields the empty string
    val all = Seq((1L, boiler), (2L, boiler)).toDF("doc_id", "text")
    val allSpans = Dedup.duplicatedSpans(all, "doc_id", "text",
      gramLen = 8, minDocs = 2)
    val cleaned = Dedup.removeDuplicatedSpans(all, allSpans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned == Map(1L -> "", 2L -> ""))
  }

  test("duplicatedParagraphs: cross-doc lines gate on distinct docs; blanks and self-repeats don't qualify") {
    val docs = Seq(
      (1L, "HEADER\nbody of the first page\nFOOTER"),
      (2L, "HEADER\nbody of the second page\nFOOTER"),
      (3L, "HEADER\nunique middle\n\n\nunique end"),   // blank lines
      (4L, "selfsame\nselfsame\nonly here")            // within-doc repeat only
    ).toDF("doc_id", "text")
    val hot = Dedup.duplicatedParagraphs(docs, "doc_id", "text", minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hot == Map(md5("HEADER") -> 3L, md5("FOOTER") -> 2L), s"got $hot")
    // matching is exact on the raw segment: 'HEADER' != 'header'
    assert(!hot.contains(md5("header")))
  }

  test("removeDuplicatedParagraphs drops hot lines, keeps order, blanks, and all-removed docs") {
    val docs = Seq(
      (1L, "HEADER\nbody of the first page\nFOOTER"),
      (2L, "HEADER\nbody of the second page\nFOOTER"),
      (3L, "HEADER\nkeep one\n\nkeep two"),
      (4L, "HEADER\nFOOTER")                           // fully boilerplate
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedParagraphs(docs, "doc_id", "text",
      minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "body of the first page")
    assert(out(2L) == "body of the second page")
    // interior blank segment survives (blanks are never counted)
    assert(out(3L) == "keep one\n\nkeep two")
    // every doc keeps a row; all-hot docs collapse to ''
    assert(out(4L) == "")
  }

  test("semantic near-dups: clustered path finds most brute-force pairs; plan is an equi-join") {
    val emb = graft.core.Fx.t(spark, sfDir, "embeddings").filter($"vec_id" < 300)
    val brute = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = 0.4, bruteForce = true)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val sem = Dedup.semanticNearDups(emb, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 4)
    val got = sem.select("a", "b").as[(Long, Long)].collect().toSet
    // within-cluster pairs are a SUBSET of all pairs (no false
    // positives — the verify is exact cosine) with bounded recall loss
    // at cluster boundaries
    assert(got.subsetOf(brute), "semantic pairs must be exact-cosine verified")
    // boundary recall at this LOW threshold (0.4 on synthetic vectors)
    // is the worst case — production SemDeDup thresholds (~0.95) pair
    // near-identical vectors that co-cluster; still, a healthy build
    // finds a solid fraction and C=1 recovers ALL of them (the q112
    // oracle pins that equality)
    if (brute.nonEmpty) {
      val recall = got.size.toDouble / brute.size
      assert(recall >= 0.3, s"cluster recall collapsed: $recall " +
        s"(${got.size}/${brute.size})")
    }
    val c1 = Dedup.semanticNearDups(emb, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 1)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(c1 == brute, "C=1 must equal the all-pairs baseline")
    // candidate generation is an equi-join on centroid_id, never a
    // cross product over the corpus (materialize = false keeps the
    // lazy plan inspectable; the checkpointed default would show only
    // the checkpoint scan)
    val p = Dedup.semanticNearDups(emb, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 4, materialize = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-sized pair join keys on centroid_id (hash/sort-merge);
    // each side's centroid assignment is a per-row kernel projection,
    // so no nested-loop join is left anywhere
    assert("Join \\[centroid_id".r.findFirstIn(p).isDefined ||
      p.contains("Join [centroid_id"), p)
    assert(!p.contains("NestedLoopJoin"), p)
    spark.catalog.clearCache()
  }

  test("auto bloom sizing: >=10 bits/key until the cap, floor 2^20, power of two") {
    // floor region: small corpora keep the 2^20 minimum
    assert(Dedup.autoBloomBits(0L, 1 << 24) == 1 << 20)
    assert(Dedup.autoBloomBits(100000L, 1 << 24) == 1 << 20) // 1M bits >= 10/key
    // growth region: next power of two above 10 bits/key
    assert(Dedup.autoBloomBits(200000L, 1 << 24) == 1 << 21)
    assert(Dedup.autoBloomBits(1500000L, 1 << 26) == 1 << 24)
    // cap region: a 100 TB corpus cannot ship a literal bitmap — the
    // filter saturates (warned) instead of exploding the task binary
    assert(Dedup.autoBloomBits(100000000L, 1 << 24) == 1 << 24)
    // every result is a power of two (the probe's mod stays cheap)
    Seq(0L, 1L, 12345L, 999999L, 123456789L).foreach { n =>
      val b = Dedup.autoBloomBits(n, 1 << 26)
      assert(java.lang.Integer.bitCount(b) == 1, s"n=$n -> $b")
    }
  }

  test("auto-sized bloom holds the FP-rate bound at the 10x-scale corpus") {
    // a Scale10x-sized fingerprint corpus (50k keys — sf0.1 documents
    // replicated 10x): the fixed 2^20 default this replaced was already
    // down to ~4 bits/key at 250k keys; auto must keep >=10 bits/key so
    // the maybe-duplicate sliver (= the anti-join path) stays ~1%
    import graft.operators.BloomJoin
    val n = 50000L
    val corpus = spark.range(n).select(md5(concat(lit("doc"), $"id")).as("__fp"))
    val bits = Dedup.autoBloomBits(n, 1 << 24)
    assert(bits >= 10L * n, s"auto sizing broke the bits/key bound: $bits")
    val words = BloomJoin.membershipWords(corpus, "__fp", bits, 5, 42L)
    // disjoint probe set: every hit is a false positive
    val probes = spark.range(n).select(md5(concat(lit("novel"), $"id")).as("__fp"))
    val fps = probes
      .filter(BloomJoin.mightContain($"__fp", words, bits, 5, 42L)).count()
    val rate = fps.toDouble / n
    assert(rate <= 0.02, f"bloom FP rate $rate%.4f exceeds 2%% at $bits bits / $n keys")
  }

  test("connected components: fractional ids converge exactly (no decimal-sum shortcut)") {
    // chain 0.1-0.2-0.3: every label decrease is < 1, so a sum cast to
    // decimal(38,0) never moves — the integral-only gate must route
    // these through the exact changed-row check, which needs 2 rounds
    // (0.3 learns 0.2's label first, 0.1 second) and lands all three
    // on 0.1, not a premature 1-round labeling that leaves 0.3 at 0.2
    val nodes = Seq(0.1, 0.2, 0.3, 0.9).toDF("id")
    val edges = Seq((0.1, 0.2), (0.2, 0.3)).toDF("a", "b")
    val ccDf = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
    val cc = ccDf.as[(Double, Double)].collect().toMap
    ccDf.unpersist()
    assert(cc == Map(0.1 -> 0.1, 0.2 -> 0.1, 0.3 -> 0.1, 0.9 -> 0.9))
  }

  test("removeNearDuplicates keeps exactly the min-id doc per pair cluster") {
    val corpus = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {1,2,3} (chained pairs) and {5,6}; 4 is untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.removeNearDuplicates(corpus, "doc_id", pairs, "a", "b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("removeNearDuplicates survives pair endpoints absent from docs") {
    // doc 1 was filtered upstream but stale pair evidence still names
    // it — and it is the cluster minimum. The keeper must fall back to
    // the smallest PRESENT doc (2), not drop the cluster; transitivity
    // through the phantom node must still merge {2,3}.
    val corpus = Seq(2L, 3L, 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val kept = Dedup.removeNearDuplicates(corpus, "doc_id", pairs, "a", "b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("removeNearDuplicatesKeepBest keeps the highest-scoring doc per cluster, ties to min id") {
    val corpus = Seq(
      (1L, "d1", 0.2), (2L, "d2", 0.9), (3L, "d3", 0.9), // cluster {1,2,3}: 2 and 3 tie at 0.9 → keep 2
      (4L, "d4", 0.1),                                   // untouched
      (5L, "d5", 0.3), (6L, "d6", 0.8))                  // cluster {5,6}: keep 6 (NOT min id)
      .toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val kept = Dedup.removeNearDuplicatesKeepBest(corpus, "doc_id",
      col("score"), pairs, "a", "b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 6L))
  }

  test("removeNearDuplicatesKeepBest ignores phantom pair endpoints when picking the keeper") {
    // doc 1 is gone from the corpus; its pairs must still merge {2,3}
    // transitively, and the keeper must be chosen among PRESENT docs
    val corpus = Seq((2L, "d2", 0.1), (3L, "d3", 0.7), (4L, "d4", 0.5))
      .toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val kept = Dedup.removeNearDuplicatesKeepBest(corpus, "doc_id",
      col("score"), pairs, "a", "b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
  }

  test("removeWithinDocDuplicateLines: repeats collapse to first occurrence; blanks and order survive") {
    val docs = Seq(
      (1L, "nav menu\nreal content\n\nnav menu\nmore text\n\nnav menu"),
      (2L, "a\nb\nc"),
      (3L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.removeWithinDocDuplicateLines(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    // first 'nav menu' kept, later repeats dropped; BOTH blank lines
    // kept (layout, not boilerplate); relative order preserved
    assert(out(1L) == "nav menu\nreal content\n\nmore text\n")
    assert(out(2L) == "a\nb\nc")
    assert(out(3L) == "")
  }

  test("removeNearDuplicates leaves no dataset cache entries behind") {
    val corpus = (1L to 4L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.removeNearDuplicates(corpus, "doc_id", pairs, "a", "b").count()
    // the CC labels (and every loop-internal persist) were unpersisted
    // inside; the only surviving storage is the keeper set's eager
    // localCheckpoint RDD, which the ContextCleaner reclaims on GC —
    // repeated pipeline invocations no longer accumulate dataset caches
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"expected at most the keeper localCheckpoint RDD to persist, " +
        s"got $before -> $after persistent RDDs")
  }

  test("LSH band join under a skewed bucket: AQE splits the hot partition") {
    // a boilerplate-heavy corpus puts every copy's 4 band rows in the
    // SAME (band, hash) buckets — the hot-reducer shape a near-dup job
    // hits on real crawl data. With skew-join thresholds scaled to the
    // fixture, AQE must split the hot partition (plan tagged skew=true)
    // instead of serializing it on one task. SkewJoin.saltedJoin stays
    // the manual fallback for a key bigger than an executor.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      // the fixture's hot bucket is highly compressible (identical
      // rows), so the byte thresholds must sit at the scale of the
      // COMPRESSED shuffle partition; 16 reducers shrink the median so
      // the hot bucket stands out the way it does at production scale
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100b")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100b")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // skew split needs a shuffle join
      conf.set("spark.sql.shuffle.partitions", "16")
      val skewed = ((0 until 400).map(i =>
        (i.toLong, "identical boilerplate paragraph shared by every copy of this page " * 2)) ++
        (400 until 800).map(i =>
          (i.toLong, s"unique document $i with distinct words w${i * 7} w${i * 13} w${i * 31} tail")))
        .toDF("doc_id", "text")
      val sig = Dedup.minhashSignature(skewed, "doc_id", "text", k = 16)
      val cand = Dedup.lshCandidates(sig, "doc_id", k = 16, bands = 4)
      // 400 identical docs must all pair up; unrelated docs must not.
      // collect() executes cand's OWN query execution, so the adaptive
      // plan inspected below is the final, post-skew-split one
      val n = cand.collect().length
      assert(n >= 400 * 399 / 2, s"expected the full dup clique, got $n")
      val planStr = cand.queryExecution.executedPlan.toString
      assert(planStr.contains("skew=true"),
        "AQE did not split the skewed band bucket:\n" + planStr)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("softDedupWeights: each cluster's weights sum to 1, singletons weigh 1.0") {
    val docs = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    // clusters {1,2,3} (transitive), {4,5}; 6 and 7 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val out = Dedup.softDedupWeights(docs, "doc_id", pairs, "a", "b")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == (1L to 7L).toSet)
    assert(out(1L) == ((1L, 3L, 1.0 / 3.0)) && out(3L)._1 == 1L)
    assert(out(4L) == ((4L, 2L, 0.5)) && out(5L)._2 == 2L)
    assert(out(6L) == ((6L, 1L, 1.0)) && out(7L) == ((7L, 1L, 1.0)))
    // mass conservation: Σ weight == n_clusters
    val total = out.values.map(_._3).sum
    assert(math.abs(total - 4.0) < 1e-12, s"total mass $total")
    spark.catalog.clearCache()
  }

  test("editDistancePairs: verifies candidates within the bound, drops the rest") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fix"),   // 1 edit from doc 1
      (3L, "the quick brown foxes"), // 2 edits from doc 1, 3 from doc 2
      (4L, "something else entirely")
    ).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val out = Dedup.editDistancePairs(docs, "doc_id", "text",
      cand, "a", "b", maxDistance = 2)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((1L, 2L) -> 1, (1L, 3L) -> 2), s"got $out")
  }

  test("contaminatedSpans: excises exactly the benchmark-overlapping runs") {
    val docs = Seq(
      (1L, "intro words here then the secret benchmark phrase appears and tail text follows"),
      (2L, "nothing from the eval set lives in this document at all today"),
      (3L, "the secret benchmark phrase appears") // fully covered
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the secret benchmark phrase appears"))
      .toDF("bid", "btext")
    val spans = Dedup.contaminatedSpans(docs, "doc_id", "text",
      bench, "bid", "btext", gramLen = 5)
    val got = spans.select($"doc_id", $"span_start", $"span_end")
      .as[(Long, Long, Long)].collect().toSet
    // doc1 tokens: intro(0) words(1) here(2) then(3) the(4) secret(5)
    // benchmark(6) phrase(7) appears(8) and(9) ... -> the 5-gram at
    // pos 4 covers [4, 8]; doc3 covers [0, 4]
    assert(got == Set((1L, 4L, 8L), (3L, 0L, 4L)), s"got $got")
    val cleaned = Dedup.removeDuplicatedSpans(docs, spans, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "intro words here then and tail text follows")
    assert(cleaned(2L) == "nothing from the eval set lives in this document at all today")
    assert(cleaned(3L) == "")
    spark.catalog.clearCache()
  }

  test("contrastivePairs: positives are near-dups, hard negatives weak collisions") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                        // near-dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta nothing shared " +
        "beyond this point with different following content entirely now"),
      (4L, "completely different words populate this document body throughout")
    ).toDF("doc_id", "text")
    val out = Dedup.contrastivePairs(docs, "doc_id", "text")
      .select($"a", $"b", $"label").as[(Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == "positive", s"got $out")
    // doc 3 shares a 5-token prefix: some fingerprint overlap with 1/2
    // but below the near-dup bar
    out.get((1L, 3L)).foreach(l => assert(l == "hard_negative"))
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "unrelated doc must not pair with anything")
    spark.catalog.clearCache()
  }

  test("minhashCalibration: exact duplicates estimate 1.0; estimates stay in [0,1]") {
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, a), (2L, a),                               // identical pair
      (3L, a + " thirteen fourteen fifteen sixteen"), // strong overlap
      (4L, "unrelated text goes in this one entirely different from others")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (nm, est, jac, err) = out((1L, 2L))
    assert(nm == 16L && est == 1.0 && jac == 1.0 && err == 0.0)
    out.values.foreach { case (n, e, j, r) =>
      assert(n >= 0 && n <= 16 && e >= 0.0 && e <= 1.0)
      assert(j >= 0.0 && j <= 1.0 && math.abs(r - math.abs(e - j)) < 1e-15)
    }
    // the estimator and the truth agree in expectation; on the strong-
    // overlap pair they must at least land in the same half
    out.get((1L, 3L)).foreach { case (_, e, j, _) =>
      assert(e > 0.3 && j > 0.3, s"est $e jaccard $j") }
    spark.catalog.clearCache()
  }

  test("sourceOverlap: shared shingles counted once per source, df gate drops boilerplate") {
    val docs = Seq(
      // s1 and s2 share the phrase "alpha beta gamma"; s3 shares nothing
      (1L, "s1", "alpha beta gamma delta epsilon"),
      (2L, "s1", "alpha beta gamma delta epsilon"), // dup within s1: counted once
      (3L, "s2", "zero alpha beta gamma other words here"),
      (4L, "s3", "completely unrelated body of text with many words")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs, "source", "text", n = 3, dfCap = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // only the (s1, s2) pair overlaps: shingles "alpha beta gamma" and
    // "beta gamma delta"? no — s2 has "alpha beta gamma" and
    // "zero alpha beta" etc.; shared = {"alpha beta gamma"}
    assert(out.keySet == Set(("s1", "s2")))
    val (shared, na, nb, jm) = out(("s1", "s2"))
    assert(shared == 1L, s"shared $shared")
    assert(na == 3L && nb == 5L) // distinct shingles per source
    assert(jm == (1000L / (3 + 5 - 1)), s"jaccard_milli $jm")
    // df gate: cap 1 drops every shingle present in >1 doc — the s1-
    // internal dup pushes its shingles' df to 2, s2's overlap to 3
    val gated = Dedup.sourceOverlap(docs, "source", "text", n = 3, dfCap = 1)
      .collect()
    assert(gated.isEmpty, "df gate must remove the only shared shingle")
  }

  test("sourceOverlap: codegen shingleRows path (idCol) == interpreted HOF path, row for row") {
    // duplicate texts both WITHIN a source (df counts each doc row) and
    // ACROSS sources, short docs below the shingle width, and a null
    // text — every branch the per-doc distinct must survive
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon"),
      (2L, "s1", "alpha beta gamma delta epsilon"),
      (3L, "s2", "zero alpha beta gamma other words here"),
      (4L, "s2", "alpha beta gamma"),
      (5L, "s3", "completely unrelated body of text with many words"),
      (6L, "s3", "too short"),
      (7L, "s1", null)
    ).toDF("doc_id", "source", "text")
    for (cap <- Seq(1, 2, 100)) {
      val hof = Dedup.sourceOverlap(docs, "source", "text", n = 3, dfCap = cap)
        .orderBy("src_a", "src_b").collect().toSeq
      val cg = Dedup.sourceOverlap(docs, "source", "text", n = 3, dfCap = cap,
        idCol = "doc_id").orderBy("src_a", "src_b").collect().toSeq
      assert(cg == hof, s"dfCap=$cap: codegen path diverged from HOF path")
    }
    spark.catalog.clearCache()
  }

  test("fuzzyJoin: typos match their original, beyond-bound rows drop, ties break to the smaller id") {
    import org.apache.spark.sql.functions.{col, substring}
    val clean = Seq((1L, "alpha-0001"), (2L, "alpha-0002"), (3L, "gamma-0001"))
      .toDF("rid", "rname")
    val dirty = Seq(
      (10L, "alpha0001"), // 1 deletion from rid 1 (same "0001" block as rid 3)
      (11L, "alpha-0002"), // exact: distance 0
      (12L, "zzzzz-0002"), // blocks with rid 2 but 5 edits away -> no match
      (13L, "abcde-9999") // no block partner at all
    ).toDF("did", "dname")
    val out = Dedup.fuzzyJoin(dirty, "did", "dname", clean, "rid", "rname",
        maxDistance = 1, blockKey = c => substring(c, -4, 4))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(out == Map(10L -> ((1L, 1L)), 11L -> ((2L, 0L))), s"got $out")
    // tie determinism: equidistant candidates resolve to the SMALLER id
    val twins = Seq((21L, "beta-0001"), (22L, "betb-0001")).toDF("rid", "rname")
    val mid = Seq((30L, "betx-0001")).toDF("did", "dname") // distance 1 to both
    val tie = Dedup.fuzzyJoin(mid, "did", "dname", twins, "rid", "rname",
        maxDistance = 1, blockKey = c => substring(c, -4, 4))
      .collect().map(r => (r.getLong(2), r.getLong(4))).head
    assert(tie == ((21L, 1L)), s"tie must break to the smaller right id: $tie")
  }

  test("containmentPairs: a quote embedded in a long doc scores ~1 one way, low the other") {
    val quote = "the five boxing wizards jump quickly tonight"
    val long = s"a completely different preamble sentence first then $quote and " +
      "afterwards much more unrelated material follows here with many words " +
      "covering other topics entirely for a while longer still"
    val docs = Seq((1L, quote), (2L, long), (3L, "nothing in common at all here"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", minPpm = 800000L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("cont_a_ppm"), r.getAs[Long]("cont_b_ppm")))
    assert(out.length == 1 && out.head._1 == 1L && out.head._2 == 2L, s"$out")
    // every shingle of the quote appears in the long doc; the reverse
    // containment is the small shared fraction Jaccard would report
    assert(out.head._3 == 1000000L, s"quote fully contained: $out")
    assert(out.head._4 < 500000L, s"reverse containment stays low: $out")
  }

  test("noveltyScore: shared text scores low, unique text 1e6, short docs NULL") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"   // 8 tokens, 1 gram
    val docs = Seq(
      (1L, shared),                                   // gram duplicated with doc 2
      (2L, shared + " iota kappa"),                   // 3 grams, 1 duplicated
      (3L, "one two three four five six seven eight"),// unique gram
      (4L, "too short")                               // < 8 tokens: no grams
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScore(docs, "doc_id", "text", gramLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"),
          Option(r.getAs[java.lang.Long]("novelty_ppm")).map(_.toLong))))
      .toMap
    assert(out(1L) == ((1L, 1L, Some(0L))), s"doc1 ${out(1L)}")
    assert(out(2L) == ((3L, 1L, Some(666666L))), s"doc2 ${out(2L)}")
    assert(out(3L) == ((1L, 0L, Some(1000000L))), s"doc3 ${out(3L)}")
    assert(out(4L) == ((0L, 0L, None)), s"doc4 ${out(4L)}")
  }

  test("linkRecords: block + verify + transitive closure + min-id canonical") {
    import spark.implicits._
    // kitten~sitten and sitten~sittin at distance 1; kitten~sittin is
    // distance 2 (over the bound) but links TRANSITIVELY; banana is in
    // the same block (length 6) yet verifies against nothing
    val recs = Seq((1L, "kitten"), (2L, "sitten"), (3L, "sittin"),
      (4L, "banana")).toDF("id", "name")
    val out = Dedup.linkRecords(recs, "id", "name", maxDistance = 1,
        v => length(v).cast("string"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Long]("cluster_size"))).toMap
    assert(out(1L) == ((1L, 3L)))
    assert(out(2L) == ((1L, 3L)))
    assert(out(3L) == ((1L, 3L)))
    assert(out(4L) == ((4L, 1L))) // singleton survives with size 1
    // different blocks are never compared: same strings, disjoint blocks
    val blocked = Dedup.linkRecords(
      Seq((1L, "abc"), (2L, "abcd")).toDF("id", "name"),
      "id", "name", maxDistance = 1, v => length(v).cast("string"))
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("canonical_id")).toMap
    assert(blocked == Map(1L -> 1L, 2L -> 2L))
  }

  test("lshRecallAudit: candidates vs exhaustive truth on a planted corpus") {
    import spark.implicits._
    // two exact near-dup pairs + unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),     // J(1,2) = 1
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six eight"),       // high overlap
      (5L, "completely different words entirely here"),
      (6L, "nothing shared with anything else at all"))
    // both hash families: md5-portable (the oracle's) and xxhash64 (the
    // sketch kernel's signatures)
    Seq(true, false).foreach { portable =>
      val out = Dedup.lshRecallAudit(docs.toDF("id", "text"), "id", "text",
        threshold = 0.5, k = 16, bands = 4, shingleN = 3, portable = portable)
        .collect().head
      val nTruth = out.getAs[Long]("n_truth")
      val nCand = out.getAs[Long]("n_candidates")
      val nHit = out.getAs[Long]("n_hit")
      assert(nTruth >= 1L)          // (1,2) is J = 1 by construction
      assert(nHit <= nTruth && nHit <= nCand)
      assert(out.getAs[Long]("recall_ppm") == nHit * 1000000L / nTruth)
      assert(out.getAs[Long]("precision_ppm") == nHit * 1000000L / nCand)
      // identical docs share every band: (1,2) must be a candidate AND a
      // hit, so recall is strictly positive
      assert(nHit >= 1L, s"portable = $portable")
    }
  }

  test("lshRecallAudit: the enforced doc budget refuses oversized input by name") {
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, s"alpha beta gamma delta word$i"))
      .toDF("id", "text")
    // over-budget input refuses BEFORE the uncapped truth join, with
    // the named error (the mmrRerank explicit-budget pattern)
    val err = intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, "id", "text", portable = true,
        maxDocs = 4L).collect()
    }
    assert(err.getMessage.contains("lshRecallAudit"))
    assert(err.getMessage.contains("maxDocs=4"))
    assert(err.getMessage.contains("sampleFraction"))
    // exactly at the budget: runs (the probe's +1 distinguishes
    // at-the-cap from over-it)
    val atCap = Dedup.lshRecallAudit(docs, "id", "text", portable = true,
      maxDocs = 8L).collect().head
    assert(atCap.getAs[Long]("n_truth") >= 0L)
    // the default budget is THE published constant
    assert(Dedup.LshAuditMaxDocs == (1L << 17))
  }

  test("lshRecallAudit: sampleFraction takes a deterministic eval sample pre-probe") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"alpha beta gamma delta word$i"))
      .toDF("id", "text")
    // the sample is applied BEFORE the budget probe: a fraction that
    // lands under maxDocs lets an over-budget corpus run…
    val sampled = Dedup.lshRecallAudit(docs, "id", "text", portable = true,
      maxDocs = 20L, sampleFraction = Some(0.25)).collect().head
    assert(sampled.getAs[Long]("n_truth") >= 0L)
    // …and the sample is deterministic: same fraction+seed replays to
    // the identical one-row audit
    val replay = Dedup.lshRecallAudit(docs, "id", "text", portable = true,
      maxDocs = 20L, sampleFraction = Some(0.25)).collect().head
    assert(sampled == replay)
    // full-corpus run on the same 40 docs still refuses at maxDocs=20
    intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, "id", "text", portable = true,
        maxDocs = 20L).collect()
    }
    // degenerate fractions refuse loudly
    intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, "id", "text", sampleFraction = Some(0.0))
    }
  }

}
