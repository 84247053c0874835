package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.functions.MinHashSketch

/** Deduplication operators for LLM training-data pipelines (north-star
  * extensions; the reference has none — SURVEY §2.4).
  *
  * Scale design (the 100 TB rule, SURVEY §7.5):
  *  - exact dedup / keep-latest: ONE hash shuffle on the dedup key with
  *    map-side partial aggregation — the canonical scalable shape.
  *  - MinHash: with xxhash64 a doc's signature and shingle set come
  *    from one native [[graft.functions.MinHashSketch]] call per doc
  *    (narrow, no shingle rows); the portable (md5) family computes them
  *    with k `min()` aggregates in a single groupBy (map-side combine;
  *    no k× row blowup). LSH banding then turns the quadratic candidate
  *    problem into an equi-join on (band, bandHash) buckets — only
  *    same-bucket pairs are compared.
  *  - SimHash: one 64-bit signature per doc via higher-order-function
  *    aggregation (no explode), candidates via 4×16-bit band equality
  *    (Hamming ≤ 3 within 64 bits guarantees a shared band).
  *  - never a full cross join; never a driver-side collect.
  */
object Dedup {

  /** Default edge budget for [[connectedComponents]]' driver-side
    * union-find fast path: at most 2^20 collected edges (≈16 MB).
    * Public so contracts can pin against THE branch boundary itself —
    * q259's chain graph asserts its edge count exceeds this constant
    * (DedupSpec), so a future budget bump cannot silently demote the
    * gate's distributed-loop run to the driver path. */
  val DefaultLocalEdgeLimit: Int = 1 << 20

  /** Sentinel for [[connectedComponents]]' `saltBuckets`: probe the
    * edge list's degree skew and pick the bucket count automatically
    * ([[autoSaltBuckets]]). */
  val AutoSalt: Int = -1

  /** Auto-salt ceiling: every label row replicates `saltBuckets` ways
    * EVERY round, so k is capped where the replication tax stops
    * buying straggler relief (16 tasks on one hot key already moves a
    * double-digit-share hub off the critical path). */
  val MaxAutoSaltBuckets: Int = 16

  /** The [[AutoSalt]] decision rule, pure and unit-testable: given the
    * edge-endpoint degree profile (max per-node degree, distinct
    * nodes, total endpoint rows = 2|E|), return 0 for graphs whose
    * hottest node holds < 8× the mean per-node load (uniform, chain —
    * AQE and plain hashing cope; salting would only tax every round
    * with label replication), else the next power of two of
    * max/mean, capped at [[MaxAutoSaltBuckets]]. Exact integer
    * arithmetic (BigInt cross-multiplication) — the probe's verdict
    * must not flip on float rounding. */
  def autoSaltBuckets(maxDegree: Long, nodes: Long, totalDegree: Long,
      skewThreshold: Int = 8): Int = {
    require(skewThreshold >= 2, s"skewThreshold must be >= 2, got $skewThreshold")
    if (nodes <= 0L || totalDegree <= 0L || maxDegree <= 0L) return 0
    // ratio = maxDegree / (totalDegree/nodes) >= threshold, exactly:
    if (BigInt(maxDegree) * nodes < BigInt(totalDegree) * skewThreshold) return 0
    var k = 2
    // smallest power of two >= ratio (floor), capped
    while (k < MaxAutoSaltBuckets &&
      BigInt(k) * totalDegree < BigInt(maxDegree) * nodes) k <<= 1
    k
  }

  /** AutoSalt × AQE arbitration predicate: true iff the session's
    * RUNTIME skew protection can actually fire inside the CC loop.
    * Since the r14 per-round plan barrier, the propagation join's
    * label side is a fresh LogicalRDD leaf, so AQE's
    * OptimizeSkewedJoin splits the hot partition at runtime
    * (CcSkewSpec's flipped law) — but only when ALL THREE hold:
    * adaptive execution on, skew-join on, AND
    * `canChangeCachedPlanOutputPartitioning` on (the loop's edge side
    * is a persisted frame; with the conf at its shipped-false default
    * AQE leaves plans reading cached data non-adaptive, SPARK-35332).
    * Each conf is read against its Spark default, so an unset conf
    * resolves exactly as Spark would.
    *
    * CAVEAT (r15 advice): this checks the three SWITCHES, not the
    * runtime TRIGGER — OptimizeSkewedJoin additionally requires the
    * hot partition to clear `skewedPartitionFactor` (default 5.0) AND
    * `skewedPartitionThresholdInBytes` (default 256 MB) on a
    * sort-merge / shuffled-hash join. A hub partition that is heavily
    * skewed but UNDER a (possibly raised) byte threshold gets neither
    * an AQE split nor a salt once AutoSalt stands down — labels stay
    * correct (the arbitration never affects results), but straggler
    * protection may silently not fire. Deployments that raise the
    * thresholds should force salting back on via the explicit
    * `saltBuckets` argument rather than relying on the arbitration. */
  def aqeSkewProtectionLive(spark: org.apache.spark.sql.SparkSession): Boolean = {
    def on(key: String, default: Boolean): Boolean =
      spark.conf.getOption(key).map(_.trim.equalsIgnoreCase("true"))
        .getOrElse(default)
    on("spark.sql.adaptive.enabled", default = true) &&
      on("spark.sql.adaptive.skewJoin.enabled", default = true) &&
      on("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        default = false)
  }

  /** The arbitration rule itself, pure and gate-pinnable (q335): when
    * runtime skew-splitting is live, deterministic salting is a
    * REDUNDANT tax — every label row replicates `ruleK`× every round
    * on top of AQE re-splitting the same hot partition — so AutoSalt
    * resolves 0 and skips the degree probe entirely. When runtime
    * protection cannot fire (AQE off, skew-join off, or cached-plan
    * adaptivity at its shipped-false default), the degree-profile
    * rule's k stands: salting is then the ONLY hub protection.
    * Labels are identical either way (salting only re-routes rows;
    * min is commutative — the CcSkewSpec-pinned law); the arbitrated
    * run just shuffles `ruleK`× fewer label rows per round. */
  def arbitratedSaltBuckets(ruleK: Int, aqeSkewLive: Boolean): Int =
    if (aqeSkewLive) 0 else ruleK

  /** Default doc budget for [[lshRecallAudit]]'s enforced eval-sample
    * contract: 2^17 documents. The audit's exhaustive ground truth is
    * a deliberately UNCAPPED shared-shingle self-join (completeness
    * for J > 0 requires it), whose pair count is Σ_shingle df² — fine
    * on an eval sample, an explosion on a crawl corpus. Public for the
    * same reason as [[DefaultLocalEdgeLimit]]: specs pin the refusal
    * against THE boundary constant. */
  val LshAuditMaxDocs: Long = 1L << 17

  /** Exact dedup: keep the row with the minimum `idCol` per duplicate
    * group (group = equal values of `keyCols`). Implemented as
    * row_number over a hash-partitioned window — one shuffle.
    *
    * String/binary key columns are substituted by their md5 digest as
    * the window key (`hashWideKeys`, on by default): the exchange then
    * carries a 32-char hash instead of, say, a full document body, and
    * the window sort compares fixed-width digests instead of O(len)
    * strings — at corpus scale the difference is shuffling the corpus
    * once vs twice. Identical result up to md5 collisions (~2⁻¹²⁸ —
    * the same assumption every fingerprint-dedup scheme here makes).
    * Output columns are untouched (the digest is only the window key). */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String,
      hashWideKeys: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val byName = df.schema.map(f => f.name -> f.dataType).toMap
    val parts = keyCols.map { k =>
      val wide = byName.get(k).exists(t => t == StringType || t == BinaryType)
      if (hashWideKeys && wide) md5(col(k)) else col(k)
    }
    val w = Window.partitionBy(parts: _*).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** An operator's result plus the caches it created behind it — the
    * one ownership shape of the near-dup operators. `release()` frees
    * exactly those caches through [[graft.util.Caches.release]]. Call
    * it only AFTER the result has been materialized (written or
    * collected): the result plan reads the caches, so releasing first
    * recomputes their sources (and a released checkpoint has nothing
    * left to recompute from). A long-lived session that skips it keeps
    * the caches until `spark.catalog.clearCache()`, which evicts every
    * cache in the session. */
  final case class Owned(result: DataFrame, caches: Seq[DataFrame]) {
    def release(): Unit = caches.foreach(graft.util.Caches.release)
  }

  /** INCREMENTAL exact dedup: keep only `batch` rows whose normalized
    * content fingerprint ([[TextOps.fingerprintMd5]]) is absent from
    * `corpus` — the arriving-batch-vs-existing-corpus shape a
    * continuously ingesting pipeline runs per batch (re-running
    * [[exact]] over corpus+batch would re-shuffle the corpus every
    * time).
    *
    * Scale shape: the corpus collapses to its DISTINCT fingerprint set
    * once, and a Bloom bitmap of that set
    * ([[graft.operators.BloomJoin]]) splits the batch BEFORE any
    * shuffle: a fingerprint that fails the bloom is DEFINITELY novel
    * (no false negatives) and bypasses the join entirely; only the
    * maybe-duplicate sliver anti-joins against the fingerprint set for
    * exact verification, so bloom false positives can never drop a
    * novel document. For the common mostly-novel batch, almost nothing
    * shuffles. Batch-internal duplicates are NOT collapsed here — run
    * [[exact]] on the batch first if that matters.
    *
    * Both fingerprint frames are PERSISTED: the corpus set is consumed
    * twice (bloom build now, anti-join verification at execution) and
    * the batch twice (both union branches) — without the persists each
    * would re-scan and re-fingerprint its source per consumer, doubling
    * the dominant cost at corpus scale. The persisted fingerprint set
    * is 32 bytes/doc (spills fine). The returned [[Owned]] holds these
    * two caches: an ingest loop calls `release()` once per batch, after
    * materializing the result, and the session cache stays flat.
    *
    * NULL-text batch rows are KEPT unconditionally: their fingerprint
    * is NULL, which matches nothing — a missing document cannot be a
    * known duplicate. Filter or repair NULLs upstream if they should
    * not survive ingest. */
  def incrementalExactReleasable(batch: DataFrame, corpus: DataFrame,
      textCol: String, bloomBits: Int = AutoBloomBits,
      seed: Long = 42L, maxBloomBits: Int = 1 << 24): Owned = {
    import graft.operators.BloomJoin
    import org.apache.spark.storage.StorageLevel
    val fp = TextOps.fingerprintMd5(col(textCol))
    val batchFp = batch.withColumn("__fp", fp)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val corpusFp = corpus.select(fp.as("__fp")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materializes corpusFp's persist as a side effect; the count then
    // sizes the filter so bits/key holds whatever the corpus grew to
    val corpusKeys = corpusFp.count()
    val bits =
      if (bloomBits > 0) bloomBits else autoBloomBits(corpusKeys, maxBloomBits)
    if (corpusKeys > 0 && bits < 8L * corpusKeys)
      System.err.println(s"[graft] incremental-dedup bloom SATURATED: " +
        s"$bits bits for $corpusKeys keys (<8 bits/key) — most rows will " +
        s"take the anti-join path; raise maxBloomBits or shard the corpus")
    val words = BloomJoin.membershipWords(corpusFp, "__fp", bits, 5, seed)
    val maybeDup = BloomJoin.mightContain(col("__fp"), words, bits, 5, seed)
    val result = batchFp.filter(!maybeDup)
      .unionByName(batchFp.filter(maybeDup)
        .join(corpusFp, Seq("__fp"), "left_anti"))
      .drop("__fp")
    Owned(result, Seq(batchFp, corpusFp))
  }

  /** Sentinel: size the bloom gate from the measured corpus-fingerprint
    * count (the default). A FIXED bit width silently saturates as the
    * corpus grows — at <~4 bits/key nearly every novel row turns
    * "maybe-duplicate" and the operator degrades to the full anti-join
    * it exists to avoid (no correctness loss, total performance loss). */
  val AutoBloomBits: Int = 0

  /** Auto-sizing policy: next power of two ≥ 10 bits/key (FP ≈ 0.9 % at
    * 5 hashes), floor 2^20, capped at `maxBloomBits` — the cap bounds
    * the literal bitmap that ships inside the probe expression (2^24
    * bits = 2 MiB, the broadcast-variable budget BloomJoin documents). */
  private[ext] def autoBloomBits(corpusKeys: Long, maxBloomBits: Int): Int = {
    val want = math.max(1L << 20, corpusKeys * 10L)
    val pow2 = java.lang.Long.highestOneBit(want)
    val bits = if (pow2 == want) want else pow2 << 1
    math.min(bits, maxBloomBits.toLong).toInt
  }

  /** Keep-latest-per-key (the streaming analogue of the reference's
    * upsert merge rule, reference revtron/database/main.py:109-112):
    * last row by `orderCol` wins, ties broken by `tieBreak` desc. */
  def keepLatest(df: DataFrame, keys: Seq[String], orderCol: String,
      tieBreak: Option[String] = None): DataFrame = {
    val ord = col(orderCol).desc +: tieBreak.map(col(_).desc).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Connected components over a near-dup pair list: every node gets
    * the MINIMUM node id reachable through the pairs as `cluster_id` —
    * the step that turns pairwise near-dup evidence (MinHash/SimHash/
    * winnowing output) into dedup CLUSTERS (keep, e.g., the min doc
    * per cluster). Iterative min-label propagation:
    * l(v) ← min({l(v)} ∪ {l(u) : u~v}), to fixpoint.
    *
    * Scale shape: the loop runs over the EDGE-INDUCED subgraph only —
    * isolated nodes (the overwhelming majority of a near-dup corpus)
    * never enter it and are labeled cluster_id = id by one final
    * anti-join. Each round is one equi-join against the (persisted)
    * symmetric edge list + one min aggregate (map-side partials) — no
    * collect, no per-component state. Rounds = graph diameter by
    * default; near-dup graphs are clique-ish (duplicates of the same
    * source connect pairwise), so single-digit rounds in practice.
    * `shortcut = true` adds a POINTER-DOUBLING join per round
    * (l(v) ← l(l(v))), making convergence O(log diameter) — turn it on
    * for chain-shaped graphs (e.g. temporal near-dup drift); it costs
    * an extra join + barrier per round, which measures as a net LOSS
    * on small-diameter dedup graphs (benched at sf0.1).
    * `maxIter` guards pathological chains — the method THROWS rather
    * than return a partial labeling. The fixpoint (component minimum)
    * is deterministic under any partitioning, so the result is
    * engine-reproducible (the contract oracle replays it with a
    * recursive-CTE transitive closure).
    *
    * SMALL-GRAPH FAST PATH: when the verified edge list has at most
    * `localEdgeLimit` rows (integral ids, no null endpoints), the
    * components are solved DRIVER-SIDE with a union-by-min union-find
    * over the collected pairs — the bounded-collect recipe (k-means
    * sample, BloomJoin bitmap): 2^20 edges ≈ 16 MB on the driver, an
    * explicit budget, and the same fixpoint bit for bit (property-
    * tested against the loop). This matters because the loop's cost is
    * FIXED overhead — rounds × (join job + aggregate job + convergence
    * action) — which dwarfs the data work on dedup-scale pair lists
    * (a 64-edge graph paid ~4 s of scheduling for milliseconds of
    * work). Near-dup edge lists are usually tiny even when the corpus
    * is 100 TB (they are VERIFIED duplicates, not candidates); when
    * they aren't, the distributed loop engages automatically.
    * `localEdgeLimit = 0` forces the loop.
    *
    * The returned frame is PERSISTED (it is the product of `rounds`
    * joins — recomputing it lazily would replay the whole loop);
    * `.unpersist()` it when done.
    *
    * `assumeConvergedAfter`: expert knob for graphs with a KNOWN
    * round bound (a chain fixture, a pointer-doubled tree of known
    * depth) — the loop stops after that many rounds WITHOUT the
    * confirming round, cutting the fixpoint loop's one structurally
    * wasted round (a fixpoint check can only confirm by running one
    * round past convergence). The bound is caller-owned truth: an
    * UNDERSTATED bound returns a non-converged labeling with no
    * error (DedupSpec pins exactly that), so gate queries using it
    * must be hash-pinned against a closed form — q259 is. (Pre-bound
    * rounds keep their checks even under an asserted bound: the
    * check action doubles as the round's cache materializer — see
    * the r18 negative-result note in the loop.)
    *
    * `saltBuckets`: HUB-GRAPH skew protection. A power-law graph (one
    * boilerplate cluster holding a double-digit share of all edges)
    * concentrates the propagation join's hot key on one task. Since
    * r14's per-round plan barrier both join children are fresh
    * shuffles, so AQE's OptimizeSkewedJoin fires INSIDE the loop and
    * the default path is skew-protected whenever AQE is on
    * (CcSkewSpec pins this — through r13 the labels side rode its
    * cache partitioning and AQE structurally could not split).
    * Salting remains the DETERMINISTIC protection: for AQE-off
    * deployments, and when runtime split thresholds would miss
    * (skew-split reasons about bytes per partition, not about one
    * key). saltBuckets > 1 salts the edge side by
    * xxhash64(dst) mod k and replicates each label row k ways, so the
    * hot key spreads over k tasks (k× label replication + a
    * (id, salt) shuffle per round). Labels are identical either way
    * (salting only re-routes rows; the min is commutative); engine-
    * internal xxhash64 is fine because the salt never reaches the
    * output. 0/1 = off; [[AutoSalt]] (-1) first ARBITRATES against
    * the session's runtime protection ([[arbitratedSaltBuckets]]):
    * when AQE skew-splitting can fire in-loop
    * ([[aqeSkewProtectionLive]] — adaptive + skewJoin +
    * cached-plan adaptivity all on) it resolves 0 outright, paying
    * neither the probe nor the per-round replication tax; otherwise
    * it runs a one-aggregate degree probe on the edge list and picks
    * k itself ([[autoSaltBuckets]]): uniform/chain graphs resolve to
    * 0 (no replication tax), hub graphs to the next power of two of
    * max-degree/mean-degree, capped at [[MaxAutoSaltBuckets]].
    * Explicit k (> 1) is never arbitrated — a caller-chosen salt is
    * caller-owned truth.
    *
    * `autoShortcutAfter`: plain min-label propagation needs
    * diameter-many rounds; `shortcut = true` (pointer doubling) makes
    * rounds logarithmic but costs an extra join per round — wasted on
    * the shallow star-shaped graphs near-dup clustering produces.
    * This knob is the decision rule: if the loop is still not
    * converged after this many rounds, the graph has demonstrated a
    * long path and the loop SWITCHES to pointer doubling for the
    * remaining rounds (labels are mode-invariant — the spec-pinned
    * law — so the switch changes round count, never the answer).
    * Default 8: near-dup graphs converge in 2-3 rounds, so only
    * genuinely deep graphs (URL chains, crawl paths) ever switch.
    * <= 0 disables (plain propagation until maxIter, the pre-r14
    * behavior). */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, shortcut: Boolean = false,
      localEdgeLimit: Int = DefaultLocalEdgeLimit,
      assumeConvergedAfter: Option[Int] = None,
      saltBuckets: Int = 0, autoShortcutAfter: Int = 8): DataFrame = {
    require(assumeConvergedAfter.forall(_ >= 1),
      s"assumeConvergedAfter must be >= 1, got $assumeConvergedAfter")
    require(saltBuckets >= AutoSalt,
      s"saltBuckets must be >= 0 (or AutoSalt = $AutoSalt), got $saltBuckets")
    import org.apache.spark.storage.StorageLevel
    val ids = nodes.select(col(idCol).as("id")).distinct()
    val idType = ids.schema("id").dataType
    // ACTIVE subgraph: only edge endpoints can ever receive a label
    // other than their own id — an isolated node is its own cluster by
    // definition. The propagation loop therefore runs over the
    // edge-induced subgraph only (|active| + 2|E| rows per round, not
    // |V| + 2|E|): a near-dup corpus is overwhelmingly isolated docs,
    // so looping over the full id space would re-shuffle the whole
    // corpus' ids `rounds` times to propagate nothing. Isolated ids
    // are unioned back with cluster_id = id after convergence.
    // Phantom endpoints absent from `nodes` are endpoints, hence
    // active, so they keep getting labeled too (removeNearDuplicates
    // relies on that for transitivity through filtered-out docs).
    // The edge list is usually the UNVERIFIED output of a candidate
    // join (winnowing/LSH pairs) — persist it first: `active` and
    // `sym` each consume it twice, so a lazy edge frame would replay
    // the candidate join four times before the loop even starts.
    // An endpoint that fails the cast (e.g. a non-numeric string edge
    // id against long node ids) would either become NULL silently
    // (non-ANSI: the edge vanishes and its cluster splits with no
    // error) or blow up as an opaque CAST_INVALID_INPUT deep in the
    // loop (ANSI, the Spark 4 default). try_cast + a badness flag on
    // the SAME persisted scan makes the guard the single failure
    // point — one scalar aggregate over the cache, never a replay of
    // the candidate join — with an error that names the fix.
    val srcCast = col(aCol).try_cast(idType)
    val dstCast = col(bCol).try_cast(idType)
    val eFlagged = edges.select(srcCast.as("src"), dstCast.as("dst"),
        ((col(aCol).isNotNull && srcCast.isNull).cast("long")
          + (col(bCol).isNotNull && dstCast.isNull).cast("long"))
          .as("__bad"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE pre-flight aggregate (r18: was two actions — the badness
    // check and the fast-path size probe each scanned the cache):
    // badness, edge count and null count come off a single pass
    val pre = eFlagged.agg(sum(col("__bad")).as("bad"),
      count(lit(1)).as("n"),
      sum(when(col("src").isNull || col("dst").isNull, 1L).otherwise(0L))
        .as("nulls")).head()
    val nBad: Any = pre.getAs[Any]("bad")
    nBad match {
      case n: java.lang.Long if n > 0L =>
        eFlagged.unpersist()
        throw new IllegalArgumentException(
          s"connectedComponents: $n edge endpoint(s) in '$aCol'/'$bCol' " +
          s"do not cast to node id type $idType — edges would be dropped " +
          "silently; align the edge id type with the node id type")
      case _ => ()
    }
    val e = eFlagged.select(col("src"), col("dst"))
    // the fast path keys the union-find on LONG — scale-0 decimals are
    // integral but can exceed Long range (the cast would null out and
    // NPE mid-collect), so they stay on the distributed loop, whose
    // decimal(38,0) arithmetic handles them
    val fastPathIds = {
      import org.apache.spark.sql.types._
      idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      }
    }
    if (fastPathIds && localEdgeLimit > 0) {
      val nE = pre.getAs[Long]("n")
      val nNull = if (pre.isNullAt(2)) 0L else pre.getAs[Long]("nulls")
      if (nE <= localEdgeLimit && nNull == 0) {
        val pairs = e.select(col("src").cast("long"), col("dst").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        eFlagged.unpersist()
        // union-by-min with path compression: every union keeps the
        // SMALLER root, so each component's root — and thus its label —
        // is the component minimum, the loop's exact fixpoint
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        pairs.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val spark = nodes.sparkSession
        import spark.implicits._
        val lbl = parent.keys.toSeq.sorted.map(v => (v, find(v)))
          .toDF("id", "cluster_id")
          .select(col("id").cast(idType).as("id"),
            col("cluster_id").cast(idType).as("cluster_id"))
        // isolated nodes label themselves; the label keys broadcast
        val isolated = ids
          .join(broadcast(lbl.select(col("id"))), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("cluster_id"))
        val out = lbl.union(isolated)
          .select(col("id").as(idCol), col("cluster_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        return out
      }
    }
    // AutoSalt pre-flight: ONE hash aggregate over the persisted edge
    // frame (degree profile → max/mean skew ratio) decides k before
    // any loop machinery is built — the q161 keySkew measurement,
    // reduced to the three numbers the decision rule needs. Uniform
    // graphs come back 0 and pay nothing further.
    val resolvedSalt =
      if (saltBuckets != AutoSalt) saltBuckets
      else if (aqeSkewProtectionLive(nodes.sparkSession)) 0
      // runtime skew-split fires in-loop (post-barrier) — salting
      // would be a redundant k× replication tax, and the degree
      // probe itself is skipped ([[arbitratedSaltBuckets]])
      else {
        val prof = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("cnt"))
          .agg(max(col("cnt")).as("mx"), count(lit(1)).as("keys"),
            sum(col("cnt")).as("tot")).first()
        if (prof.isNullAt(0)) 0
        else autoSaltBuckets(prof.getLong(0), prof.getLong(1), prof.getLong(2))
      }
    val active = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // symmetric closure + self-loops: every active node hears its
    // neighbors AND itself each round, so labels only ever decrease
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .union(active.select(col("id").as("src"), col("id").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = active.select(col("id"), col("id").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the frame whose CACHE the current `labels` rides on — what the
    // next round must unpersist (after the barrier below, `labels`
    // itself is a plan-barrier leaf, not the persisted frame)
    var labelsCache = labels
    // Convergence check: labels are monotonically non-increasing, so
    // for INTEGRAL ids the labeling is a fixpoint iff Σlabel is
    // unchanged — one scalar aggregate per round (decimal(38,0): lossless
    // for any integral id) instead of a self-join of two label frames.
    // Fractional ids (double/float/scaled decimal) must NOT take this
    // shortcut: the cast to scale-0 decimal rounds, so a sub-quantum
    // label decrease (ids 0.1/0.2/0.3) would read as "unchanged" and
    // declare a false fixpoint. They use the exact changed-row join,
    // like non-numeric ids.
    val integralIds = {
      import org.apache.spark.sql.types._
      idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType                                => d.scale == 0
        case _                                             => false
      }
    }
    // null ⇔ sum unavailable (empty frame, or decimal overflow past 38
    // digits) — callers must treat null as NOT converged, never as a
    // comparable value (two overflowed rounds are not evidence of a
    // fixpoint).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast("decimal(38,0)"))).first()
      if (v.isNullAt(0)) null else v.getDecimal(0)
    }
    def noLabelDecreased(next: DataFrame, cur: DataFrame): Boolean = next
      .join(cur.select(col("id"), col("label").as("__old")), "id")
      .filter(col("label") < col("__old")).isEmpty
    // NOTE (r18 negative result, kept for the record): skipping the
    // pre-bound convergence checks when `assumeConvergedAfter` is
    // asserted looks like pure win (each check is an extra action),
    // but the checks are load-bearing MATERIALIZERS — they fill each
    // round's persist before the next round's consumers touch it.
    // Without them, AQE materializes the doubling join's x/y exchange
    // stages CONCURRENTLY and both race to compute the unfilled
    // caches (prop, next, labels0, active), recomputing whole rounds:
    // q259 measured 11.4 -> 15.2 s solo with the checks skipped.
    // The checks stay.
    var prevSum = if (integralIds) labelSum(labels) else null
    var it = 0
    var done = false
    // pointer doubling: forced from round 0 by `shortcut`, or engaged
    // mid-loop once `autoShortcutAfter` rounds pass without a fixpoint
    // (the graph has demonstrated a long path — see scaladoc)
    var useShortcut = shortcut
    // salted propagation: the edge side hashes dst into k buckets, the
    // label side replicates into every bucket — the hot src key's rows
    // land on k tasks instead of one (see saltBuckets scaladoc)
    val saltCols = if (resolvedSalt > 1)
      Some(array((0 until resolvedSalt).map(lit): _*)) else None
    while (!done && it < maxIter) {
      if (!useShortcut && autoShortcutAfter > 0 && it >= autoShortcutAfter)
        useShortcut = true
      val prop0 = saltCols match {
        case Some(buckets) =>
          val symS = sym.withColumn("__salt",
            pmod(xxhash64(col("dst")), lit(resolvedSalt.toLong)))
          val labS = labels.withColumn("__salt", explode(buckets))
          symS.join(labS, symS("src") === labS("id") &&
              symS("__salt") === labS("__salt").cast("long"))
            .select(symS("dst").as("id"), col("label"))
            .groupBy(col("id")).agg(min(col("label")).as("label"))
        case None =>
          sym.join(labels, sym("src") === labels("id"))
            .select(sym("dst").as("id"), col("label"))
            .groupBy(col("id")).agg(min(col("label")).as("label"))
      }
      // shortcut mode: persist prop (the doubling join consumes it on
      // TWO different keys, which would otherwise recompute the whole
      // propagation subtree twice), then follow the label's OWN label
      // — every label is a node id and self-loops keep every node
      // present, so the inner join is total; labels only shrink, so
      // l(l(v)) ≤ l(v)
      val prop = if (!useShortcut) prop0
        else prop0.persist(StorageLevel.MEMORY_AND_DISK)
      val next = (if (!useShortcut) prop
        else prop.as("x")
          .join(prop.as("y"), col("x.label") === col("y.id"))
          .select(col("x.id").as("id"),
            least(col("x.label"), col("y.label")).as("label")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // labels only decrease ⇒ fixpoint ⇔ nothing decreased this round;
      // a caller-asserted bound skips the check (and the confirming
      // round it would otherwise buy) on its final round — pre-bound
      // checks stay: they double as the round's cache materializer
      // (see the negative-result note above)
      if (assumeConvergedAfter.exists(_ <= it + 1)) {
        done = true
      } else if (integralIds) {
        val curSum = labelSum(next) // also materializes next's persist
        if (curSum != null && prevSum != null)
          done = curSum.compareTo(prevSum) == 0
        else // sum overflowed/absent: fall back to the exact check
          done = noLabelDecreased(next, labels)
        prevSum = curSum
      } else {
        done = noLabelDecreased(next, labels)
      }
      if (useShortcut) prop.unpersist()
      labelsCache.unpersist()
      labelsCache = next
      // PLAN barrier (Bridge.planBarrier): round k+1 must build on a
      // LEAF, not on round k's nested plan — without it Catalyst's
      // per-round analysis/optimization/cache-lookup work compounds
      // super-linearly with round count (measured: ~2s/round at round
      // 6 growing to >10s/round by round 10, driver OOM near round 18
      // on a 151-row chain). The barrier wraps next's physical RDD,
      // so the data still comes off next's cache and stays
      // recomputable through the RDD lineage if blocks are lost.
      labels = org.apache.spark.sql.graft.Bridge.planBarrier(next)
      it += 1
    }
    if (!done) {
      sym.unpersist(); labelsCache.unpersist(); eFlagged.unpersist()
      active.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "the pair graph has a longer path than expected; raise maxIter")
    }
    // Isolated nodes (never an edge endpoint) label themselves — one
    // anti-join against the small active set (broadcast-able), no
    // participation in the loop above.
    val isolated = ids.join(active, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    // hand the CALLER the persisted frame (out.unpersist() releases it)
    // and drop the loop-internal caches — the returned plan must not
    // depend on them, or unpersisting would trigger an O(rounds)
    // lineage recompute
    val out = labels.union(isolated)
      .select(col("id").as(idCol), col("label").as("cluster_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    sym.unpersist()
    labelsCache.unpersist()
    eFlagged.unpersist()
    active.unpersist()
    out
  }

  /** WARM-START connected components: fold a NEW epoch's edge list
    * into an EXISTING labeling without replaying history — the
    * continuous-dedup shape (q99/q107 find each epoch's new pair
    * evidence; this maintains the cluster assignment across epochs).
    *
    * Correctness rests on one identity: a labeling IS its own edge
    * set. `prevLabels` (id, cluster_id) encodes exactly the star
    * graph id—cluster_id, and stars have the same connectivity as the
    * edges that produced them — so components(stars ∪ newEdges) ==
    * components(allHistoricalEdges ∪ newEdges), label for label (the
    * ScalaCheck law in ExtLawsProps; the label is still the component
    * MINIMUM because star centers are their components' minima).
    * State carried between epochs is the label frame — bounded by the
    * ACTIVE node count, not by the unbounded historical edge stream.
    *
    * Scale detail: SELF-labeled rows (cluster_id = id — isolated
    * nodes and cluster minima) are dropped from the star set before
    * the union. They add no connectivity (a self-loop, or a star
    * center reachable through its members' rows), and keeping them
    * would promote every previously-ISOLATED node into the active
    * subgraph — the loop would shuffle the whole corpus' ids per
    * round to propagate nothing (the same argument as the base
    * operator's edge-induced-subgraph rule). Isolation is re-derived
    * from `nodes` each call, so docs deleted upstream simply stop
    * appearing. Same contract as [[connectedComponents]] otherwise
    * (returned frame persisted, caller releases). */
  def connectedComponentsIncremental(nodes: DataFrame, idCol: String,
      prevLabels: DataFrame, edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, shortcut: Boolean = false,
      localEdgeLimit: Int = DefaultLocalEdgeLimit,
      saltBuckets: Int = 0, autoShortcutAfter: Int = 8): DataFrame = {
    val stars = prevLabels
      .filter(col("cluster_id") =!= col(idCol))
      .select(col(idCol).as("__wa"), col("cluster_id").as("__wb"))
    val fresh = edges.select(col(aCol).as("__wa"), col(bCol).as("__wb"))
    // the star∪fresh edge list is what the probe must see, so the
    // hub knobs forward (AutoSalt probes the UNION's degree profile —
    // a warm-started hub cluster's star is itself a hub)
    connectedComponents(nodes, idCol, stars.unionByName(fresh),
      "__wa", "__wb", maxIter, shortcut, localEdgeLimit,
      saltBuckets = saltBuckets, autoShortcutAfter = autoShortcutAfter)
  }

  /** End-to-end near-dup REMOVAL: cluster the pair evidence with
    * [[connectedComponents]] and keep each cluster's minimum-PRESENT
    * row — the step every curation pipeline runs after candidate
    * generation (pairs from minhashNearDupsReleasable /
    * simhashNearDups / winnowingNearDups / embeddingNearDups all fit).
    *
    * The CC node set is seeded with the pair ENDPOINTS as well as the
    * doc ids: stale pair evidence may reference an id absent from
    * `docs` (e.g. a doc already filtered upstream), and if that
    * phantom id were the cluster minimum the naive `id == cluster_id`
    * keeper rule would silently drop the whole cluster. Keeping the
    * phantom as a node preserves transitivity (b~a~c still clusters b
    * with c when a is gone); the keeper is then the minimum id per
    * cluster AMONG DOCS PRESENT — one small aggregate over the label
    * frame. One left-semi join against the keeper set; the corpus
    * streams. The keeper set is eagerly materialized (localCheckpoint)
    * so the CC labels can be unpersisted HERE — callers hold no cache
    * entries after this returns. */
  def removeNearDuplicates(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val idType = docs.schema(idCol).dataType
    val ids = docs.select(col(idCol))
    val nodes = ids
      .union(pairs.select(col(aCol).cast(idType).as(idCol)))
      .union(pairs.select(col(bCol).cast(idType).as(idCol)))
    val cc = connectedComponents(nodes, idCol, pairs, aCol, bCol)
    val keepers = cc.join(ids, Seq(idCol), "left_semi")
      .groupBy(col("cluster_id")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
      .localCheckpoint(true) // eager: cuts lineage off the CC cache
    cc.unpersist()
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Quality-aware variant of [[removeNearDuplicates]]: keep each
    * cluster's HIGHEST-scoring present doc (ties → min id) rather than
    * the min-id doc — production curation keeps the best copy of
    * duplicated content, not an arbitrary one (the RefinedWeb/Dolma
    * keeper rule). `score` is any deterministic per-doc expression
    * over `docs`' columns (e.g. [[TextOps.qualityScore]]).
    *
    * Same phantom-endpoint seeding as [[removeNearDuplicates]]; the
    * inner join to the scored frame drops phantoms before keeper
    * selection. The keeper is ONE `min(struct(-score, id))` hash
    * aggregate (lexicographic struct-min realizes max-score-then-
    * min-id) — map-side partial, no window sort over cluster members. */
  def removeNearDuplicatesKeepBest(docs: DataFrame, idCol: String,
      score: Column, pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val idType = docs.schema(idCol).dataType
    val ids = docs.select(col(idCol))
    val nodes = ids
      .union(pairs.select(col(aCol).cast(idType).as(idCol)))
      .union(pairs.select(col(bCol).cast(idType).as(idCol)))
    val cc = connectedComponents(nodes, idCol, pairs, aCol, bCol)
    val scored = docs.select(col(idCol), score.cast("double").as("__score"))
    val keepers = cc.join(scored, Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("__score")).as("__ns"), col(idCol).as("__id"))).as("__k"))
      .select(col("__k.__id").as(idCol))
      .localCheckpoint(true) // eager: cuts lineage off the CC cache
    cc.unpersist()
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  // ---------------------------------------------------------------- MinHash

  private def portableHash64(seed: Int, c: Column): Column =
    TextOps.portableHash64(seed, c)

  /** Per-doc MinHash signature columns h0..h{k-1}: min over the doc's
    * distinct word-n-gram shingles of hash(seed_i, shingle); docs with
    * fewer than `shingleN` tokens are absent. The xxhash64 family is one
    * [[graft.functions.MinHashSketch]] projection (no aggregate); the
    * portable family is a single groupBy with k min() aggregates. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 32, shingleN: Int = 3, portable: Boolean = false): DataFrame =
    if (portable) portableSignatureFromRows(
      TextOps.shingleRows(docs.repartition(col(idCol)), idCol, textCol, shingleN),
      idCol, k)
    else sigColumns(sketchRows(docs, idCol, textCol, k, shingleN), idCol, k)

  /** `(idCol, __sk)`: each doc's [[graft.functions.MinHashSketch]] over
    * its lowered text; docs below `shingleN` tokens have none and are
    * dropped. The docs are hash-spread by id first (a single input file
    * otherwise runs the kernel on one core), and every consumer keyed
    * on the id rides that partitioning. Doc ids are unique. */
  private def sketchRows(docs: DataFrame, idCol: String, textCol: String, k: Int,
      shingleN: Int): DataFrame =
    // the kernel's own null test, on the token count: a filter on the
    // kernel's output is pushed below the projection and runs it twice
    docs.filter(TextOps.tokenCount(col(textCol)) >= shingleN)
      .repartition(col(idCol)).select(col(idCol),
        MinHashSketch.column(lower(col(textCol)), k, shingleN).as("__sk"))

  private def sigColumns(sk: DataFrame, idCol: String, k: Int): DataFrame =
    sk.select(col(idCol) +: (0 until k).map(i => col("__sk.sig").getItem(i).as(s"h$i")): _*)

  private def setColumn(sk: DataFrame, idCol: String): DataFrame =
    sk.select(col(idCol), col("__sk.shingles").as("__set"))

  /** Portable signature aggregation over an existing (id, shingle)
    * frame — split out so one shingle pass can feed both the signatures
    * and the verification sets. min() is multiplicity-invariant, so no
    * shingle dedup is needed. The xxhash64 family has no such form: it
    * is the [[graft.functions.MinHashSketch]] kernel ([[sketchRows]]).
    *
    * ONE md5 per DISTINCT shingle (vocabulary-level hashing — the
    * shingle vocabulary is far smaller than the shingle stream), split
    * into two 56-bit halves (a, b); the k min-hash functions are the
    * 2-universal family h_i = a + i·b (no overflow: a, b < 2^56,
    * i < k ≤ 64 ⇒ h_i < 2^62). The vocab joins back broadcast-style
    * when it fits (AQE decides), preserving the doc-id partitioning for
    * the signature groupBy. */
  private def portableSignatureFromRows(sh: DataFrame, idCol: String,
      k: Int): DataFrame = {
    // a + i·b stays below 2^62 only while i < 64 — enforce it
    require(k <= 64, s"portable MinHash supports k <= 64, got $k")
    val (ha, hb) = PortableHash.pair56(col("shingle"), 0L)
    val vocab = sh.select(col("shingle")).distinct()
      .select(col("shingle"), ha.as("__ha"), hb.as("__hb"))
    val withH = sh.join(vocab, Seq("shingle"))
    val aggs = (0 until k).map(i =>
      min(col("__ha") + lit(i.toLong) * col("__hb")).as(s"h$i"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** One (id, band, bandHash) row per band of each signature — the
    * exploded form both candidate joins build on. */
  private def bandRows(sig: DataFrame, idCol: String, k: Int, bands: Int,
      portable: Boolean): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    val bandHashes = (0 until bands).map { b =>
      val parts = (0 until r).map(i => col(s"h${b * r + i}"))
      val h = if (portable)
        md5(concat_ws("|", (lit(b.toString) +: parts.map(_.cast("string"))): _*))
      else xxhash64((lit(b) +: parts): _*)
      h.as(s"b$b")
    }
    sig.select(col(idCol) +: bandHashes: _*).select(col(idCol),
      posexplode(array((0 until bands).map(i => col(s"b$i")): _*)).as(Seq("__band", "__bh")))
  }

  /** LSH candidate pairs from a signature frame: band the k hashes into
    * `bands` groups of k/bands rows, hash each band, and equi-join on
    * (bandIndex, bandHash). Returns distinct (a, b) with a < b. */
  def lshCandidates(sig: DataFrame, idCol: String, k: Int, bands: Int,
      portable: Boolean = false): DataFrame = {
    val e = bandRows(sig, idCol, k, bands, portable)
    val l = e.select(col(idCol).as("a"), col("__band"), col("__bh"))
    val rgt = e.select(col(idCol).as("b"), col("__band"), col("__bh"))
    l.join(rgt, Seq("__band", "__bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** [[lshCandidates]] with an IN-PLAN bucket-occupancy tripwire:
    * band-bucket occupancy is computed as a WINDOW count over the
    * exact (band, hash) partitioning the candidate self-join shuffles
    * on — the guard rides the join input's own exchange instead of
    * joining in a separately-aggregated side (the r14 shape paid a
    * THIRD evaluation of the signature subtree plus an extra join;
    * the window's sort is within already-shuffled band buckets and
    * the second join side reuses the first's exchange). A
    * `raise_error` guard on the count fails the job LOUDLY at
    * execution time when any bucket holds more than `maxBucketSize`
    * docs (m docs → m(m−1)/2 candidate pairs) — exactly where a
    * degenerate signature basis would otherwise go quadratic. Healthy
    * LSH buckets hold a handful of docs; the guard changes no
    * surviving row. */
  def lshCandidatesGuarded(sig: DataFrame, idCol: String, k: Int,
      bands: Int, portable: Boolean = false,
      maxBucketSize: Int = 10000): DataFrame = {
    val e = bandRows(sig, idCol, k, bands, portable)
    val occ = count(lit(1))
      .over(Window.partitionBy(col("__band"), col("__bh")))
    val guarded = e.withColumn("__g",
      when(occ <= lit(maxBucketSize.toLong), lit(1))
        .otherwise(raise_error(concat(
          lit("LSH band-bucket occupancy "), occ,
          lit(s" docs exceeds maxBucketSize = $maxBucketSize (band "),
          col("__band"), lit(", bucket "), col("__bh"),
          lit(") — degenerate signature basis; use shingleN >= 2 " +
            "or gate high-df elements upstream")))))
    val l = guarded.filter(col("__g") === 1)
      .select(col(idCol).as("a"), col("__band"), col("__bh"))
    val rgt = guarded.select(col(idCol).as("b"), col("__band"), col("__bh"))
    l.join(rgt, Seq("__band", "__bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** CROSS-SET LSH candidates: (a from sigA) × (b from sigB) sharing a
    * band bucket. No a < b filter — the sides are distinct sets, and
    * every cross pair must surface even when ids collide numerically. */
  def lshCandidatesAcross(sigA: DataFrame, sigB: DataFrame, idCol: String,
      k: Int, bands: Int, portable: Boolean = false): DataFrame =
    bandRows(sigA, idCol, k, bands, portable)
      .select(col(idCol).as("a"), col("__band"), col("__bh"))
      .join(bandRows(sigB, idCol, k, bands, portable)
        .select(col(idCol).as("b"), col("__band"), col("__bh")),
        Seq("__band", "__bh"))
      .select(col("a"), col("b")).distinct()

  /** Per-doc distinct shingle sets, `(idCol, __set)`: the shingle half
    * of the sketch kernel (k = 0 hashes). Shared by both verify paths so
    * shingle-set semantics cannot diverge between them. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    setColumn(sketchRows(docs, idCol, textCol, 0, shingleN), idCol)

  /** |∩| / |∪| with the empty-union guard — the single definition of
    * verified Jaccard for the in-set and cross-set paths. */
  private def jaccardCol(sa: Column, sb: Column): Column =
    when(size(array_union(sa, sb)) === 0, lit(0.0))
      .otherwise(size(array_intersect(sa, sb)).cast("double") /
        size(array_union(sa, sb)).cast("double"))

  /** Exact word-n-gram Jaccard over candidate pairs (verification step):
    * joins each side's distinct shingle set and computes
    * |∩| / |∪| with array_intersect/array_union. */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleN)
    candidates
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("__set", "__sa"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("__set", "__sb"), "b")
      .withColumn("jaccard", jaccardCol(col("__sa"), col("__sb")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** WEIGHTED MinHash + LSH near-dups — weighted Jaccard over per-doc
    * WORD COUNTS (tf), capped at `weightCap`:
    *
    *   J_w(A, B) = Σ_w min(a_w, b_w) / Σ_w max(a_w, b_w)
    *
    * "Two docs are near-dups when they share most of their word MASS"
    * — the form that sees a doc which repeats its boilerplate header
    * fifty times as different from one that mentions it once, which
    * set-Jaccard ([[minhashNearDupsReleasable]]) cannot. The classic
    * consistent-weighted-sampling constructions (Ioffe 2010) need
    * log/exp — not correctly rounded cross-engine — so this takes the
    * INTEGER-REPLICATION construction instead: word w with capped
    * count c expands to elements w#0 … w#(c−1), and plain MinHash /
    * Jaccard over the expanded sets IS the weighted form (min(a,b)
    * replicas shared, max(a,b) in the union). Everything downstream
    * reuses the portable banded-LSH machinery verbatim; the verify
    * stage computes Σmin and J_w = Σmin/(Σa + Σb − Σmin) in exact
    * integer ppm ([[PortableDiv.nonNeg]]) — the whole pipeline is
    * oracle-replayable (q333).
    *
    * `weightCap` bounds the expansion (≤cap× the tf frame) AND the
    * boilerplate sensitivity — the standard truncated-weight trade.
    * '#' never appears in [a-z0-9]+ tokens, so replica elements cannot
    * collide with each other or with real words.
    *
    * `shingleN` picks the weighted element basis: 1 = word tf (the
    * textbook weighted-Jaccard form), ≥2 = word-n-gram tf. The
    * DEFAULT is 3 (matching [[minhashNearDupsReleasable]]): raw word mass
    * (n = 1) is dominated by common/stop words on natural-language
    * corpora, which DEGENERATES the signatures — the globally minimal
    * common-word replica becomes most docs' minimum, band buckets
    * collapse into a handful of hot buckets, and the candidate join
    * goes quadratic (measured: 41 s, 340 total buckets on the
    * 50k-doc fixture). Callers who want the textbook word-tf form
    * must opt into n = 1 AND either gate high-df words upstream or
    * accept the `maxBucketSize` tripwire: every band bucket's
    * occupancy is checked IN-PLAN (an `assert_true` on the bucket
    * count, joined into the candidate path), so a degenerate basis
    * fails loudly at exactly the point the candidate join would have
    * gone quadratic — never silently melts the cluster. A bucket of
    * m docs yields m(m−1)/2 pairs; the default bound of 10,000 docs
    * per bucket (≤5·10⁷ pairs) is far above any healthy LSH bucket
    * and far below the degenerate collapse.
    *
    * Caches: the per-doc tf frame is persisted (it feeds the replica
    * expansion AND both verify joins), and so are the candidate pairs
    * (see the inline note); the returned [[Owned]] holds both.
    *
    * @note BREAKING DEFAULT CHANGE (since r14): `shingleN` default
    *       moved 1 → 3. Callers who relied on the r13 word-tf default
    *       get different (n-gram-mass) results and must pass
    *       `shingleN = 1` explicitly — which also opts into the
    *       degenerate-basis tripwire pricing described above. */
  def weightedMinhashNearDupsReleasable(docs: DataFrame, idCol: String,
      textCol: String, thresholdPpm: Long = 500000L, k: Int = 16,
      bands: Int = 4, weightCap: Int = 8, shingleN: Int = 3,
      maxBucketSize: Int = 10000): Owned = {
    require(weightCap >= 1, s"weightCap must be >= 1, got $weightCap")
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    require(maxBucketSize >= 2,
      s"maxBucketSize must be >= 2, got $maxBucketSize")
    require(thresholdPpm >= 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in [0, 1e6], got $thresholdPpm")
    import org.apache.spark.storage.StorageLevel
    val elems =
      if (shingleN == 1) docs.repartition(col(idCol))
        .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("__w"))
      else TextOps.shingleRows(docs.repartition(col(idCol)), idCol,
        textCol, shingleN).withColumnRenamed("shingle", "__w")
    val tf = elems
      .groupBy(col(idCol), col("__w"))
      .agg(least(count(lit(1)), lit(weightCap.toLong)).as("__c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ex = tf.select(col(idCol),
        col("__w"), explode(sequence(lit(0L), col("__c") - 1L)).as("__r"))
      .select(col(idCol),
        concat(col("__w"), lit("#"), col("__r").cast("string")).as("shingle"))
    val sig = portableSignatureFromRows(ex, idCol, k)
    // the candidate pairs feed BOTH the intersection aggregate and the
    // final join, inside the caller's one materializing action —
    // unpersisted, the signature aggregate (k min-hashes over the
    // tf-expanded element stream, the expensive half) and the banded
    // self-join replay once per consumer (r18; the
    // minhashNearDupsReleasable persist-the-signatures precedent). Pair
    // lists are dedup-small.
    val cand = lshCandidatesGuarded(sig, idCol, k, bands, portable = true,
      maxBucketSize = maxBucketSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sums = tf.groupBy(col(idCol)).agg(sum(col("__c")).as("__s"))
    val inter = cand
      .join(tf.select(col(idCol).as("a"), col("__w"), col("__c").as("__ca")), Seq("a"))
      .join(tf.select(col(idCol).as("b"), col("__w"), col("__c").as("__cb")),
        Seq("b", "__w"))
      .groupBy(col("a"), col("b"))
      .agg(sum(least(col("__ca"), col("__cb"))).as("__i"))
    val denom = col("__sa") + col("__sb") - col("__i")
    val result = cand
      .join(inter, Seq("a", "b"), "left")
      .join(sums.select(col(idCol).as("a"), col("__s").as("__sa")), Seq("a"))
      .join(sums.select(col(idCol).as("b"), col("__s").as("__sb")), Seq("b"))
      .withColumn("__i", coalesce(col("__i"), lit(0L)))
      .select(col("a"), col("b"),
        when(denom === 0, lit(0L))
          .otherwise(PortableDiv.nonNeg(lit(1000000L) * col("__i"), denom))
          .as("jw_ppm"))
      .filter(col("jw_ppm") >= thresholdPpm)
    Owned(result, Seq(tf, cand))
  }

  /** Full MinHash+LSH near-dup pipeline: signature → banding → candidate
    * join → exact-Jaccard verify ≥ threshold. `portable = true` swaps
    * xxhash64 for the md5-derived hash (engine-reproducible — the
    * contract query's DuckDB oracle replays the whole pipeline).
    *
    * ONE per-doc pass feeds BOTH the signatures and the verification
    * shingle sets. With xxhash64 it is the [[graft.functions.MinHashSketch]]
    * projection, checkpointed eagerly (two jobs before this returns):
    * the plan is that frame, the band self-join and the pair join, and
    * the returned [[Owned]] holds the one checkpoint.
    * The portable form keeps the composed shingle rows (a window over
    * posexploded tokens), a k-`min` aggregate and a `collect_set`
    * aggregate, which the oracle replays; it holds the shingle-row and
    * signature caches. */
  def minhashNearDupsReleasable(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, k: Int = 32,
      bands: Int = 8, shingleN: Int = 3,
      portable: Boolean = false): Owned = {
    val (sig, sets, stored) = sigsAndSets(docs, idCol, textCol, k, shingleN, portable)
    val cand = lshCandidates(sig, idCol, k, bands, portable)
    val result = cand
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("__set", "__sa"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("__set", "__sb"), "b")
      .withColumn("jaccard", jaccardCol(col("__sa"), col("__sb")))
      .select(col("a"), col("b"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
    Owned(result, stored)
  }

  /** `(signatures, shingle sets, the stored frames to release)`, both
    * read from one per-doc pass. With xxhash64 that pass is the
    * [[graft.functions.MinHashSketch]] projection, checkpointed eagerly
    * (a plan scans it up to four times, and AQE gives each scan of a
    * cache not yet filled a job of its own). With the portable hash it
    * is the persisted shingle rows, and the signature aggregate over
    * them is persisted too: a band self-join reads it on both sides. */
  private def sigsAndSets(docs: DataFrame, idCol: String, textCol: String, k: Int,
      shingleN: Int, portable: Boolean): (DataFrame, DataFrame, Seq[DataFrame]) =
    if (portable) {
      val sh = TextOps.shingleRows(docs.repartition(col(idCol)), idCol, textCol, shingleN)
        .persist(MEMORY_AND_DISK)
      val sig = portableSignatureFromRows(sh, idCol, k).persist(MEMORY_AND_DISK)
      (sig, sh.groupBy(col(idCol)).agg(collect_set(col("shingle")).as("__set")), Seq(sh, sig))
    } else {
      val sk = sketchRows(docs, idCol, textCol, k, shingleN).localCheckpoint(eager = true)
      (sigColumns(sk, idCol, k), setColumn(sk, idCol), Seq(sk))
    }

  /** Incremental NEAR-dup: which arriving batch docs are near-duplicates
    * (Jaccard ≥ threshold) of the EXISTING corpus — the LSH analogue of
    * [[incrementalExactReleasable]] for an ingest loop, catching light
    * rewrites that content fingerprints miss. Returns CROSS-SET pairs
    * only, (a = batch id, b = corpus id, jaccard); batch-internal
    * duplicates are [[minhashNearDupsReleasable]] on the batch alone.
    *
    * Scale shape: signatures are computed per side with the SAME seeded
    * hash family, so a long-lived ingest loop should precompute the
    * corpus signature frame ONCE (persist/write it) and re-band it per
    * batch — the per-batch cost is then one signature pass over the
    * (small) batch plus a banded equi-join in which the batch side's
    * band rows broadcast (AQE decides). Never all-pairs: a batch doc
    * meets only corpus docs sharing a band bucket. The returned
    * [[Owned]] holds the batch's stored per-doc frames and the
    * candidate checkpoint (see [[incrementalNearDupsWithSigsReleasable]]). */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
      portable: Boolean = false): Owned =
    incrementalNearDupsWithSigsReleasable(batch,
      minhashSignature(corpus, idCol, textCol, k, shingleN, portable),
      corpus, idCol, textCol, threshold, k, bands, shingleN, portable)

  /** [[incrementalNearDups]] against a PRECOMPUTED corpus signature
    * frame — the ingest-loop form (compute `minhashSignature(corpus)`
    * once, persist it, call this per batch; `Streams.nearDupIngest`
    * wires it into foreachBatch). The per-batch cost is one batch
    * shingle pass + the banded cross-set join + candidate-restricted
    * corpus re-shingling for exact verification. The returned
    * [[Owned]] holds the epoch's batch's stored per-doc frames (as in
    * [[minhashNearDupsReleasable]]) and candidate checkpoint: an ingest LOOP calls `release()` once per epoch, after
    * the epoch's result is materialized — without it a long-running
    * stream accumulates cache entries per micro-batch forever. */
  def incrementalNearDupsWithSigsReleasable(batch: DataFrame,
      corpusSigs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, k: Int = 32,
      bands: Int = 8, shingleN: Int = 3,
      portable: Boolean = false): Owned = {
    // The BATCH side shares one per-doc pass between its signatures
    // and its verification sets (the minhashNearDupsReleasable recipe —
    // the batch is the small arriving set, so storing it is cheap and
    // saves a second tokenize). The CORPUS side deliberately does NOT:
    // persisting the 100 TB corpus' shingles to save re-shingling the
    // candidate SLIVER would be a catastrophic trade — it keeps the
    // signature pass + candidate-restricted re-shingle split.
    val (bs, batchSets, batchStored) = sigsAndSets(batch, idCol, textCol, k, shingleN, portable)
    val cs = corpusSigs
    // eager checkpoint: verification consumes the candidate frame three
    // times (two id semi-joins + the pair join); without cutting the
    // lineage each consumer would replay BOTH signature pipelines. The
    // frame is id pairs only — tiny — but the checkpoint RDD sits in
    // the persistent-RDD registry until the ContextCleaner happens to
    // GC it, so release() drops it explicitly (an ingest loop can't
    // wait for GC).
    val cand = lshCandidatesAcross(bs, cs, idCol, k, bands, portable)
      .localCheckpoint(true)
    val setsA = batchSets.join(cand.select(col("a").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .withColumnRenamed(idCol, "a").withColumnRenamed("__set", "__sa")
    val setsB = shingleSets(
      corpus.join(cand.select(col("b").as(idCol)).distinct(), Seq(idCol), "left_semi"),
      idCol, textCol, shingleN)
      .withColumnRenamed(idCol, "b").withColumnRenamed("__set", "__sb")
    val result = cand
      .join(setsA, "a")
      .join(setsB, "b")
      .withColumn("jaccard", jaccardCol(col("__sa"), col("__sb")))
      .select(col("a"), col("b"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
    Owned(result, batchStored :+ cand)
  }

  /** Cross-set exact-Jaccard verification: candidates carry (a = id in
    * `left`, b = id in `right`); each side's shingle sets come from its
    * own frame. Public so an ingest loop can compose it with a
    * PRECOMPUTED corpus signature frame (minhashSignature once, persist
    * → lshCandidatesAcross per batch → this) instead of paying the
    * corpus signature pass per batch — DedupSpec pins the composition
    * equal to the one-shot [[incrementalNearDups]].
    *
    * Each side is SEMI-JOINED to the candidate ids BEFORE shingling —
    * in the ingest loop the corpus is the 100 TB side and candidates
    * touch a sliver of it, so shingle sets are built only for docs a
    * candidate names (the id restriction re-derives the candidate
    * frame once per side; candidate generation reads narrow signature
    * frames, while unrestricted verification would re-shingle the full
    * corpus text per batch — persist `candidates` first if its
    * generation is expensive). */
  def jaccardVerifyAcross(candidates: DataFrame, left: DataFrame,
      right: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val setsOf = (df: DataFrame, as: String) =>
      shingleSets(
        df.join(candidates.select(col(as).as(idCol)).distinct(),
          Seq(idCol), "left_semi"),
        idCol, textCol, shingleN)
        .withColumnRenamed(idCol, as).withColumnRenamed("__set", s"__s$as")
    candidates
      .join(setsOf(left, "a"), "a")
      .join(setsOf(right, "b"), "b")
      .withColumn("jaccard", jaccardCol(col("__sa"), col("__sb")))
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs ≥ threshold over the df-capped shingle
    * space (the oracle-checkable baseline; the LSH path above is the
    * scale path). Joins on shared shingles so only pairs with ≥1 common
    * shingle are ever scored; with `maxDf` set, shingles with document
    * frequency > `maxDf` are dropped BEFORE the self-join: the join
    * fan-out is Σ df(shingle)², so one viral shingle would make a
    * single reducer quadratic at corpus scale, while df-capped shingles
    * can only connect documents already linked by rarer ones. Jaccard
    * is computed entirely within the capped space (set sizes recomputed
    * after the cap), so capped semantics are "similarity over
    * discriminative shingles" — exact and engine-portable. The default
    * (`maxDf = Int.MaxValue`) is EXACT whole-set Jaccard; callers opt
    * into the cap explicitly (q44 uses 100) — a silently-capped default
    * would change results under existing callers.
    *
    * Shape: document frequency and per-doc set size are hash
    * AGGREGATES (map-side partial) + re-joins, not windows — the former
    * two stacked full-sort windows were the dominant cost at sf0.1. */
  /** Shared candidate machinery of [[ngramJaccardPairs]] and
    * [[containmentPairs]] — per unordered pair (a < b) of docs sharing
    * ≥ 1 kept shingle: their distinct-set sizes and shared-shingle
    * count. collect_set dedups shingles per doc (set semantics)
    * without an extra shuffle — the groupBy rides the repartition(id);
    * df per shingle is ONE hash aggregate whose semi-join back onto
    * `sets` shares the exchange key (ReuseExchange collapses the two
    * scans), dropping shingles in more than `maxDf` docs BEFORE the
    * self-join (boilerplate would otherwise cost df²/2 pairs); the
    * per-doc size is computed AFTER the cap in one hash agg carrying
    * the shingle list, re-exploded with `__n` attached — no join, no
    * sort — and persisted to feed both sides of the pair join.
    * Output: (a, b, na, nb, __common). */
  private def shingleCommonCounts(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, maxDf: Int): DataFrame = {
    val sets = TextOps.shingleRows(docs.repartition(col(idCol)), idCol, textCol, shingleN)
      .groupBy(col(idCol)).agg(collect_set(col("shingle")).as("__set"))
      .select(col(idCol).as("__id"), explode(col("__set")).as("__sh"))
    val dfCounts = sets.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val kept = sets.join(dfCounts.select(col("__sh")), Seq("__sh"))
    val sized = kept.groupBy(col("__id"))
      .agg(collect_list(col("__sh")).as("__shs"), count(lit(1)).as("__n"))
      .select(col("__id"), col("__n"), explode(col("__shs")).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sized.select(col("__id").as("a"), col("__n").as("na"), col("__sh"))
      .join(sized.select(col("__id").as("b"), col("__n").as("nb"), col("__sh")), Seq("__sh"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("__common"))
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxDf: Int = Int.MaxValue): DataFrame =
    shingleCommonCounts(docs, idCol, textCol, shingleN, maxDf)
      .withColumn("jaccard", col("__common").cast("double") /
        (col("na") + col("nb") - col("__common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** ASYMMETRIC n-gram containment — the quotation/subset-copy
    * detector Jaccard misses: a short doc fully embedded in a long one
    * has containment(short→long) ≈ 1 while Jaccard ≈ |short|/|long| ≈ 0
    * (so q44 never flags it; this is the "document quotes the
    * benchmark" and "article embeds the press release" shape).
    * Identical plan to [[ngramJaccardPairs]] — per-doc distinct-shingle
    * sets, the df ≤ `maxDf` boilerplate cap BEFORE the equi-keyed
    * self-join, one persisted sized pass feeding both sides — but the
    * score is DIRECTED and reported both ways per unordered pair:
    * `cont_a_ppm` = ⌊10⁶·|A∩B|/|A|⌋ (how much of A lives in B) and
    * `cont_b_ppm` symmetric, integers both engines floor identically.
    * Pairs keep rows where EITHER direction reaches `minPpm`. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      minPpm: Long = 500000L, shingleN: Int = 3,
      maxDf: Int = Int.MaxValue): DataFrame = {
    require(minPpm >= 0 && minPpm <= 1000000L,
      s"minPpm must be in [0, 1e6], got $minPpm")
    shingleCommonCounts(docs, idCol, textCol, shingleN, maxDf)
      .withColumn("cont_a_ppm",
        expr("(__common * 1000000L) div na"))
      .withColumn("cont_b_ppm",
        expr("(__common * 1000000L) div nb"))
      .filter(col("cont_a_ppm") >= minPpm || col("cont_b_ppm") >= minPpm)
      .select(col("a"), col("b"), col("na"), col("nb"),
        col("__common").as("n_shared"), col("cont_a_ppm"), col("cont_b_ppm"))
  }

  /** Winnowing near-dups: pairs of docs sharing ≥ `minShared` winnowing
    * fingerprints (local-similarity detection — catches plagiarism-style
    * shared passages that whole-doc hashing misses). Equi-join on the
    * fingerprint, so only docs with a common fingerprint are compared.
    *
    * `maxDf` (0 = uncapped) drops fingerprints present in more than
    * maxDf docs BEFORE the self-join — the MOSS rule: a fingerprint in
    * thousands of documents is boilerplate (headers, license text,
    * cookie banners), not copying evidence, and it alone would cost
    * df²/2 candidate pairs (one viral fingerprint in 10⁵ docs ≈ 5·10⁹
    * pairs). The q44 n-gram path has the same guard (`maxDf` there);
    * always set it on crawl-scale corpora. Uncapped stays the default
    * so the q61/q83 oracle replays are unchanged. */
  def winnowingNearDups(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, window: Int = 4, minShared: Int = 2,
      portable: Boolean = false, maxDf: Int = 0): DataFrame = {
    // the PERSIST sits on the raw fingerprints — the expensive
    // posexplode + double-window winnowing pipeline — so it runs once
    // regardless of capping; the capped view is a cheap cache-scan +
    // partial-agg df filter per consumer (persisting only the capped
    // frame would re-run winnowing for the df aggregate itself)
    val fp0 = TextOps.winnowingFingerprints(
      docs.repartition(col(idCol)), idCol, textCol, k, window, portable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fp =
      if (maxDf <= 0) fp0
      else {
        val keep = fp0.groupBy(col("fingerprint"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") <= maxDf)
          .select(col("fingerprint"))
        fp0.join(keep, Seq("fingerprint"))
      }
    fp.select(col(idCol).as("a"), col("fingerprint"))
      .join(fp.select(col(idCol).as("b"), col("fingerprint")), Seq("fingerprint"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Contrastive pair mining for embedding/reranker training: winnowing
    * fingerprint collisions labeled by overlap strength. Pairs sharing
    * ≥ `posShared` fingerprints are `positive` (near-duplicates — the
    * classic weak-supervision positives); pairs colliding on ≥ 1 but
    * < `posShared` are `hard_negative` — lexically close enough to
    * collide, yet not duplicates: exactly the hard negatives
    * contrastive training wants (random negatives are too easy).
    * Same plan as [[winnowingNearDups]] at threshold 1: one persisted
    * fingerprint pass, one fingerprint-keyed self-join. */
  def contrastivePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, window: Int = 4, posShared: Int = 3,
      portable: Boolean = false, maxDf: Int = 0): DataFrame = {
    require(posShared >= 2, s"posShared must be >= 2, got $posShared")
    winnowingNearDups(docs, idCol, textCol, k, window, minShared = 1,
        portable, maxDf)
      .select(col("a"), col("b"), col("n_shared"),
        when(col("n_shared") >= posShared, lit("positive"))
          .otherwise(lit("hard_negative")).as("label"))
  }

  /** Sketch-quality calibration: for every LSH candidate pair, the
    * MinHash ESTIMATE of Jaccard (matching signature positions / k —
    * the estimator whose expectation IS the Jaccard) next to the exact
    * shingle-set Jaccard, plus the absolute error. The operational
    * audit of an LSH deployment: run on a sample, check the estimator
    * is calibrated before trusting bands at corpus scale.
    *
    * ONE per-doc pass feeds signatures AND exact verification, stored
    * as in [[minhashNearDupsReleasable]] (the sketch checkpoint with
    * xxhash64, the shingle-row and signature caches with the portable
    * hash); match counting is k codegen'd comparisons, each Jaccard one
    * integer division. */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      portable: Boolean = false): DataFrame = {
    val (sig, sets, _) = sigsAndSets(docs, idCol, textCol, k, shingleN, portable)
    val cand = lshCandidates(sig, idCol, k, bands, portable)
    val left = sig.select(
      col(idCol).as("a") +: (0 until k).map(i => col(s"h$i").as(s"__a$i")): _*)
    val right = sig.select(
      col(idCol).as("b") +: (0 until k).map(i => col(s"h$i").as(s"__b$i")): _*)
    val nMatch = (0 until k).map(i =>
      when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L)).reduce(_ + _)
    cand
      .join(left, "a").join(right, "b")
      .select(col("a"), col("b"), nMatch.as("n_match"))
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("__set", "__sa"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("__set", "__sb"), "b")
      .select(col("a"), col("b"), col("n_match"),
        (col("n_match").cast("double") / k).as("est_jaccard"),
        jaccardCol(col("__sa"), col("__sb")).as("jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
  }

  // ---------------------------------------------------------------- SimHash

  /** Per-doc SimHash (64-bit; 60-bit in portable mode): each token
    * votes ±1 on each bit of hash(token); the sign of the per-bit sum
    * becomes the bit.
    *
    * Shape: explode tokens → ONE groupBy with per-bit codegen'd
    * `sum(CASE)` aggregates (map-side partial agg), then fold the vote
    * signs into a long. A nested higher-order-function formulation
    * (aggregate × zip_with × transform per token) is ~30× slower
    * because it never enters whole-stage codegen — measured and
    * replaced. `portable = true` uses the md5-derived 60-bit hash so a
    * DuckDB oracle can replay the pipeline. */
  def simhashSignature(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val nBits = if (portable) 60 else 64
    val tok0 = docs.repartition(col(idCol)).select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("__t"))
    val tok =
      if (!portable) tok0.withColumn("__h", xxhash64(col("__t")))
      else {
        // one md5 per DISTINCT token (vocabulary-level hashing), joined
        // back — broadcast when the vocab fits (AQE decides)
        val vocab = tok0.select(col("__t")).distinct()
          .withColumn("__h", portableHash64(0, col("__t")))
        tok0.join(vocab, Seq("__t"))
      }
    val aggs = (0 until nBits).map(i =>
      sum(when(col("__h").bitwiseAND(lit(1L << i)) =!= 0, lit(1L))
        .otherwise(lit(-1L))).as(s"v$i"))
    val votes = tok.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bits = (0 until nBits).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    votes.select(col(idCol), bits.reduce(_ + _).as("__sim"))
  }

  /** SimHash near-dup candidates: docs sharing any of the 4 bands
    * (16-bit, or 15-bit portable — pigeonhole: Hamming distance ≤ 3 ⇒
    * at least one band equal). */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val bandBits = if (portable) 15 else 16
    val mask = (1L << bandBits) - 1
    val sig = simhashSignature(docs, idCol, textCol, portable)
    val bandCols = (0 until 4).map(b =>
      shiftright(col("__sim"), b * bandBits).bitwiseAND(lit(mask)).as(s"b$b"))
    val banded = sig.select(col(idCol) +: col("__sim") +: bandCols: _*)
    val e = banded.select(col(idCol), col("__sim"),
      posexplode(array((0 until 4).map(i => col(s"b$i")): _*)).as(Seq("__band", "__bh")))
    val l = e.select(col(idCol).as("a"), col("__sim").as("__sa"), col("__band"), col("__bh"))
    val r = e.select(col(idCol).as("b"), col("__sim").as("__sb"), col("__band"), col("__bh"))
    l.join(r, Seq("__band", "__bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("__sa"), col("__sb")).distinct()
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups: candidates with Hamming distance ≤ maxDistance. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, portable: Boolean = false): DataFrame =
    simhashCandidates(docs, idCol, textCol, portable)
      .withColumn("hamming", hamming64(col("__sa"), col("__sb")).cast("long"))
      .filter(col("hamming") <= maxDistance)
      .select(col("a"), col("b"), col("hamming"))

  // ------------------------------------------------------- Embedding dedup

  /** Embedding near-dups: pairs with cosine ≥ threshold. Candidate
    * generation via sign-random-projection LSH (deterministic seeded
    * hyperplanes, banded) so the join is bucketed, then exact cosine
    * verification. Set `bruteForce=true` to skip LSH (small inputs /
    * recall baseline). */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, dim: Int = 64, planes: Int = 16,
      bandsOf: Int = 4, bruteForce: Boolean = false): DataFrame = {
    val v = emb.repartition(col(idCol)).select(col(idCol).as("__id"),
      Similarity.l2Normalize(col(vecCol).cast("array<double>")).as("__v"))
    val pairs =
      if (bruteForce) {
        v.select(col("__id").as("a"), col("__v").as("__va"))
          .join(v.select(col("__id").as("b"), col("__v").as("__vb")),
            col("a") < col("b"))
      } else {
        // The normalize + 16-plane SRP signature is an interpreted HOF
        // pipeline; persist so the self-join's two sides (and the
        // verify step) don't recompute it per consumer.
        val sig = v.withColumn("__sig",
          Similarity.srpSignature(col("__v"), dim, planes, seed = 42))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nBands = planes / bandsOf
        val bandCols = (0 until nBands).map(b =>
          slice(col("__sig"), b * bandsOf + 1, bandsOf).cast("array<int>").as(s"b$b"))
        val banded = sig.select(col("__id") +: col("__v") +: bandCols: _*)
        val e = banded.select(col("__id"), col("__v"),
          posexplode(array((0 until nBands).map(i => col(s"b$i")): _*))
            .as(Seq("__band", "__bh")))
        e.select(col("__id").as("a"), col("__v").as("__va"), col("__band"), col("__bh"))
          .join(e.select(col("__id").as("b"), col("__v").as("__vb"), col("__band"), col("__bh")),
            Seq("__band", "__bh"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("__va"), col("b"), col("__vb")).distinct()
      }
    pairs.withColumn("cosine", Similarity.dot(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** SemDeDup-style SEMANTIC near-dup pairs (Abbas et al. 2023 —
    * deduplicate by embedding similarity, catching paraphrases and
    * templated rewrites that token-level schemes miss): cluster the
    * embedding space with the bounded-sample k-means build
    * ([[Similarity.ivfBuild]]), then exact cosine over WITHIN-CLUSTER
    * pairs only. Candidate cost drops from n²/2 to Σ_c n_c²/2 (~n²/2C
    * balanced); the pair join is an equi-join on centroid_id — AQE
    * splits skewed clusters, never a cross join. Complementary recall
    * path: [[embeddingNearDups]] (SRP-LSH) catches cross-cluster
    * near-dups that a cluster boundary splits; raise `nCentroids` for
    * tighter (cheaper, lower-recall) buckets.
    *
    * With `materialize = true` (default) the pair frame is EAGERLY
    * checkpointed so the k-means backing cache can be released before
    * returning — pair lists are dedup-small by construction.
    * `materialize = false` returns the lazy plan (the index backing
    * stays cached until the session clears it) — for plan inspection
    * and custom cache lifecycles. Feed the pairs to
    * [[removeNearDuplicates]] or [[Sampling.leakageSafeSplit]]. */
  /** Exact duplicated-SPAN detection (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the substring-level
    * complement of the document-level passes above, for trimming
    * boilerplate runs out of otherwise-unique documents): per document,
    * the maximal token spans covered by `gramLen`-token runs that occur
    * in ≥ `minDocs` DISTINCT documents. The paper's suffix array does
    * not distribute; the Spark-shaped equivalent hashes every token
    * `gramLen`-gram (positional lead window — the winnowing machinery,
    * TextOps.scala), counts each gram's distinct-document frequency
    * (distinct + hash aggregate, no expand), keeps cross-document grams
    * via a semi-join on the gram hash, and merges each doc's surviving
    * [pos, pos+L−1] intervals (overlapping or adjacent) into maximal
    * spans with a gaps-and-islands window. Returns (idCol, span_start,
    * span_end, n_grams) — 0-based inclusive token positions.
    *
    * Shuffles: one on the doc id (gram windows), two on the gram hash
    * (distinct doc-count + semi-join), one back on the doc id (island
    * window + span aggregate) — all equi-keyed, nothing all-pairs, and
    * the surviving-gram side is naturally small (only grams repeated
    * ACROSS documents pass the gate; a doc repeating itself does not
    * qualify). Per-doc windows partition on the doc id — bounded by
    * document length, never a global sort. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int = 8, minDocs: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(gramLen >= 1, s"gramLen must be >= 1, got $gramLen")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val tok = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val seq = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = (0 until gramLen).map(i =>
      if (i == 0) col("__tok") else lead(col("__tok"), i).over(seq))
    val gram = concat_ws(" ", parts: _*)
    val gramHash =
      if (portable) TextOps.portableHash64(0, gram) else xxhash64(gram)
    // persisted (r17, the noveltyScore barrier): the gram frame feeds
    // BOTH the distinct-doc frequency gate and the semi-join probe —
    // unpersisted, the tokenize + per-doc lead window (the expensive
    // exchange+sort of the whole exploded corpus) replays twice
    val grams = tok.select(col(idCol), col("__pos").cast("long").as("__pos"),
        gramHash.as("__h"),
        lead(col("__tok"), gramLen - 1).over(seq).isNotNull.as("__full"))
      .filter(col("__full"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = grams.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select(col("__h"))
    val dup = grams.join(hot, Seq("__h"), "left_semi")
    val prevEnd = max(col("__pos")).over(
      seq.rowsBetween(Window.unboundedPreceding, -1)) + lit(gramLen - 1L)
    val isNew = when(prevEnd.isNull || col("__pos") > prevEnd + 1L, 1L)
      .otherwise(0L)
    val island = sum(isNew).over(
      seq.rowsBetween(Window.unboundedPreceding, 0))
    dup.withColumn("__island", island)
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + lit(gramLen - 1L)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Per-document NOVELTY score — the memorization-risk audit
    * ([[duplicatedSpans]] tells you WHERE the duplicated text is; this
    * scores HOW MUCH of each document is corpus-duplicated, the per-doc
    * signal a curation pipeline thresholds on): novelty_ppm =
    * ⌊10⁶·(n_grams − n_dup)/n_grams⌋ where n_dup counts positional
    * `gramLen`-grams appearing in ≥ `minDocs` distinct documents.
    * Same scale shape as duplicatedSpans — one per-doc lead window for
    * the grams, a distinct-doc frequency gate, one semi-join — minus
    * the island pass (scores need counts, not span boundaries).
    * Documents shorter than `gramLen` tokens have no grams and read
    * NULL novelty (nothing to judge). Returns
    * (idCol, n_grams, n_dup, novelty_ppm). */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int = 8, minDocs: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(gramLen >= 1, s"gramLen must be >= 1, got $gramLen")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val tok = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val seq = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = (0 until gramLen).map(i =>
      if (i == 0) col("__tok") else lead(col("__tok"), i).over(seq))
    val gram = concat_ws(" ", parts: _*)
    val gramHash =
      if (portable) TextOps.portableHash64(0, gram) else xxhash64(gram)
    val grams = tok.select(col(idCol), gramHash.as("__h"),
        lead(col("__tok"), gramLen - 1).over(seq).isNotNull.as("__full"))
      .filter(col("__full"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = grams.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select(col("__h"))
    val perDoc = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val dupPerDoc = grams.join(hot, Seq("__h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(dupPerDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_dup"))
      .withColumn("novelty_ppm",
        when(col("n_grams") === 0L, lit(null).cast("long"))
          .otherwise(expr("((n_grams - n_dup) * 1000000L) div n_grams")))
  }

  /** SPAN-level benchmark decontamination: per document, the maximal
    * token spans covered by `gramLen`-grams that appear ANYWHERE in
    * the benchmark — the surgical variant of
    * [[TextOps.contaminatedDocs]] (which flags whole documents):
    * excising just the contaminated spans keeps the rest of an
    * otherwise-good document in the training mix. Detection is the
    * [[duplicatedSpans]] machinery with the cross-document frequency
    * gate swapped for benchmark membership: benchmark grams collapse
    * to a DISTINCT hash set (MBs by construction) and BROADCAST into a
    * semi-join against the corpus gram stream — the 100 TB side never
    * shuffles on the gram hash at all. Feed the result to
    * [[removeDuplicatedSpans]]. */
  def contaminatedSpans(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      gramLen: Int = 8, portable: Boolean = false): DataFrame = {
    require(gramLen >= 1, s"gramLen must be >= 1, got $gramLen")
    val tok = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val seq = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = (0 until gramLen).map(i =>
      if (i == 0) col("__tok") else lead(col("__tok"), i).over(seq))
    val gram = concat_ws(" ", parts: _*)
    def hashOf(c: Column) =
      if (portable) TextOps.portableHash64(0, c) else xxhash64(c)
    val grams = tok.select(col(idCol), col("__pos").cast("long").as("__pos"),
        hashOf(gram).as("__h"),
        lead(col("__tok"), gramLen - 1).over(seq).isNotNull.as("__full"))
      .filter(col("__full"))
    val benchHot = TextOps.shingleRows(bench, benchIdCol, benchTextCol, gramLen)
      .select(hashOf(col("shingle")).as("__h")).distinct()
    val dup = grams.join(broadcast(benchHot), Seq("__h"), "left_semi")
    val prevEnd = max(col("__pos")).over(
      seq.rowsBetween(Window.unboundedPreceding, -1)) + lit(gramLen - 1L)
    val isNew = when(prevEnd.isNull || col("__pos") > prevEnd + 1L, 1L)
      .otherwise(0L)
    val island = sum(isNew).over(
      seq.rowsBetween(Window.unboundedPreceding, 0))
    dup.withColumn("__island", island)
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + lit(gramLen - 1L)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Excise duplicated spans from documents (the removal half of the
    * Lee et al. recipe — [[duplicatedSpans]] detects, this trims):
    * drop every token whose position falls inside a span, rebuild the
    * text as the space-joined survivors. TOKEN-level (the pipeline
    * tokenizer is lossy by design — the output is normalized token
    * text, not the original bytes). Every input doc gets a row; a doc
    * whose tokens are all covered (or that had none) yields ''.
    *
    * Shape: the span frame is dedup-output-sized (small); tokens
    * anti-join it on the doc id with the range residual — one
    * equi-keyed shuffle join, codegen'd, no per-token higher-order
    * lambda — then one doc-id aggregate rebuilds the text
    * (sort_array over (pos, tok) structs: collect_list order is not
    * deterministic, the sort is). */
  def removeDuplicatedSpans(docs: DataFrame, spans: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val sp = spans.select(col(idCol).as("__sid"),
      col("span_start"), col("span_end"))
    val kept = tok.join(sp,
      tok(idCol) === col("__sid") &&
        col("__pos").cast("long").between(col("span_start"), col("span_end")),
      "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        s => s.getField("__tok")), " ").as("clean_text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Paragraph-level duplicate detection (the Dolma / RefinedWeb
    * granularity, between document-exact and token-span dedup): the
    * md5 of every NON-BLANK paragraph (a `sep`-split segment of the
    * text) that occurs in ≥ `minDocs` DISTINCT documents, with its
    * document frequency. Catches shared boilerplate — headers, promo
    * footers, navigation blocks — that repeats verbatim across pages
    * whose bodies differ, where document-level passes see nothing and
    * span detection pays token windows for what is a line-keyed
    * equality problem.
    *
    * Shape: paragraphs explode narrowly (no windows anywhere — the
    * position comes free from `posexplode`), the frequency aggregate
    * keys on the 16-byte md5 so the exchange never carries paragraph
    * bodies, and a per-doc `distinct` pre-aggregates before the count
    * (a doc repeating its own paragraph does not qualify, matching
    * [[duplicatedSpans]]'s cross-document rule). Two hash exchanges
    * total, both equi-keyed. Output: (para_hash, df).
    *
    * Matching is EXACT on the raw segment (portable across engines);
    * pre-normalize the text column first if case/whitespace-insensitive
    * matching is wanted. */
  def duplicatedParagraphs(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    docs.select(col(idCol),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("__p"))
      .filter(length(trim(col("__p"))) > 0)
      .select(md5(col("__p")).as("para_hash"), col(idCol)).distinct()
      .groupBy(col("para_hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
  }

  /** Removal half of the paragraph recipe: drop every paragraph whose
    * hash is hot per [[duplicatedParagraphs]], rebuild each doc as the
    * `sep`-joined ordered survivors. Every input doc gets a row; a doc
    * whose paragraphs are all hot yields ''. Blank segments are never
    * frequency-counted, so interior blank lines survive.
    *
    * Shape: the hot side is small by construction (only cross-document
    * repeats pass the gate) — the anti-join broadcasts; one doc-id
    * aggregate rebuilds the text (sort_array over (pos, segment)
    * structs — collect_list order is not deterministic, the sort is). */
  def removeDuplicatedParagraphs(docs: DataFrame, idCol: String,
      textCol: String, minDocs: Int = 2, sep: String = "\n"): DataFrame = {
    val hot = duplicatedParagraphs(docs, idCol, textCol, minDocs, sep)
      .select(col("para_hash"))
    val para = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__p")))
    val kept = para.join(broadcast(hot),
      md5(col("__p")) === col("para_hash"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__p")))),
        s => s.getField("__p")), sep).as("clean_text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** WITHIN-doc duplicate-line removal — the per-document complement
    * of [[removeDuplicatedParagraphs]] (Dolma runs both: cross-doc
    * dedup drops corpus-wide boilerplate, within-doc dedup drops nav
    * menus and footers repeated INSIDE one page). Keeps the FIRST
    * occurrence of each distinct non-blank line, preserves order,
    * leaves blank lines untouched (they carry layout, not
    * boilerplate).
    *
    * ONE doc-id exchange end to end: lines are spread by id once; the
    * occurrence window clusters on (id, md5(line)) — satisfied by the
    * id partitioning, and the sort compares a 16-byte digest instead
    * of O(line-length) text (the exact-dedup lesson) — and the ordered
    * rebuild reuses the same partitioning. */
  def removeWithinDocDuplicateLines(docs: DataFrame, idCol: String,
      textCol: String, sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__p")))
      .repartition(col(idCol))
    val w = Window.partitionBy(col(idCol), md5(col("__p"))).orderBy(col("__pos"))
    val kept = lines.withColumn("__rn", row_number().over(w))
      .filter(trim(col("__p")) === "" || col("__rn") === 1)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__p")))),
        s => s.getField("__p")), sep).as("clean_text"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def semanticNearDups(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.9, nCentroids: Int = 256,
      broadcastCentroids: Boolean = true,
      materialize: Boolean = true): DataFrame = {
    val idx = Similarity.ivfBuild(corpus, idCol, vecCol, nCentroids,
      broadcastCentroids = broadcastCentroids)
    val a = idx.assigned.select(col("centroid_id"), col("__id").as("a"),
      col("__v").as("__va"))
    val b = idx.assigned.select(col("centroid_id"), col("__id").as("b"),
      col("__v").as("__vb"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", Similarity.dot(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
    if (!materialize) pairs
    else {
      val out = pairs.localCheckpoint(true)
      idx.unpersist()
      out
    }
  }

  /** SOFT deduplication — duplicate-aware DOWNWEIGHTING instead of
    * removal (the SoftDedup idea: hard dedup throws away the signal
    * that a document was independently published many times; keeping
    * every copy at weight 1/cluster_size preserves the corpus
    * distribution while a training loader samples each cluster's
    * content with total mass 1). Clusters the near-dup pair evidence
    * (any candidate generator: winnowing/MinHash/SimHash pairs) with
    * [[connectedComponents]], then emits every doc with its cluster
    * id, cluster size, and sampling weight 1/size — singletons get
    * weight 1.0. ONE double division per row after an integer count —
    * bit-identical in any IEEE engine (the q134 oracle replays it).
    *
    * Scale: the CC loop runs over the edge-induced subgraph only; the
    * size aggregate and join key on cluster_id — one exchange each.
    * The returned frame inherits the CC persist contract (the caller
    * releases the cache when done). */
  def softDedupWeights(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(docs.select(col(idCol)), idCol,
      pairs, aCol, bCol)
    val sizes = cc.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
  }

  /** Edit-distance VERIFICATION of candidate pairs — character-level
    * fuzzy matching (the record-linkage op: catches typo-level rewrites
    * whose token shingles still collide, and gives an interpretable
    * "n edits apart" measure where Jaccard gives a set ratio). Takes a
    * candidate pair list from any bounded generator (winnowing/LSH —
    * NEVER all-pairs: Levenshtein is O(len²) per pair, so the
    * candidate set must already be near-linear), joins both texts, and
    * keeps pairs within `maxDistance` edits. The banded DP
    * (`levenshtein(l, r, threshold)`) exits early at the bound, so a
    * wildly-different candidate costs O(maxDistance·len), not O(len²).
    * Distances are exact integers — engine-portable by construction. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxDistance: Int): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val ta = docs.select(col(idCol).as("__ia"), col(textCol).as("__ta"))
    val tb = docs.select(col(idCol).as("__ib"), col(textCol).as("__tb"))
    pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .join(ta, col("a") === col("__ia"))
      .join(tb, col("b") === col("__ib"))
      .select(col("a"), col("b"),
        levenshtein(col("__ta"), col("__tb"), maxDistance).as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Cross-SOURCE contamination matrix — "which crawls duplicate
    * which": for every source pair, the count of distinct token
    * n-gram shingles present in BOTH, with per-source totals and an
    * integer Jaccard (‰). The provenance-level audit that decides
    * which source to drop or downweight before document-level dedup
    * even runs (exact-duplicate DOCS across crawls are rare; shared
    * PHRASES are the contamination signal).
    *
    * Scale shape: the exploded (doc, shingle) stream collapses in ONE
    * wide hash aggregate per shingle — (doc-frequency, sorted distinct
    * source set) — so the expensive tokenize+shingle scan runs once
    * and the corpus never self-joins. Boilerplate shingles drop at the
    * document-frequency cap (the q44 gate: a stop-phrase present
    * everywhere would dominate and say nothing); pair counts explode
    * from each surviving shingle's ≤|sources| array (a<b by sorted
    * position — s² tiny rows per shingle, never a shingle-keyed
    * equi-join of the corpus against itself). Assumes a MODEST source
    * cardinality (crawl/provenance labels, ≤ ~10⁴) — with millions of
    * sources the per-shingle set itself becomes the blowup and a
    * different contract (pairwise sampling) applies. Output is at most
    * |sources|² rows.
    *
    * `idCol` (optional): a column that uniquely identifies document
    * ROWS. When given, the shingle pass runs through the codegen'd
    * [[TextOps.shingleRows]] (posexplode + lead window on one doc-key
    * exchange) instead of the interpreted `shingles` higher-order
    * function — ~5× on the corpus scan (the q193 move, guide §4); the
    * per-doc distinct that `array_distinct` provided inline becomes a
    * (doc, shingle) dedup that rides the window's own partitioning
    * (no extra exchange). Results are identical as long as `idCol` is
    * row-unique; empty (the default) keeps the id-free HOF path for
    * callers without a row key. */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
      n: Int = 3, dfCap: Int = 100, idCol: String = ""): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    // one row per (doc, distinct shingle); ONE aggregate keyed on the
    // shingle carries both the df gate and the source set
    val docShingle =
      if (idCol.isEmpty)
        docs.filter(col(textCol).isNotNull)
          .select(col(sourceCol).as("__src"),
            explode(array_distinct(
              TextOps.shingles(TextOps.tokens(col(textCol)), n))).as("__g"))
      else {
        // the doc key carries the source along as a struct field, so
        // the whole pass needs exactly ONE exchange (by __key): window
        // shingling, then the per-doc dedup — HashPartitioning(__key)
        // satisfies the (__key, shingle) clustering — both ride it
        val keyed = docs.filter(col(textCol).isNotNull)
          .select(struct(col(idCol).as("__id"), col(sourceCol).as("__s"))
            .as("__key"), col(textCol))
        TextOps.shingleRows(keyed.repartition(col("__key")), "__key", textCol, n)
          .dropDuplicates("__key", "shingle")
          .select(col("__key.__s").as("__src"), col("shingle").as("__g"))
      }
    val perShingle = docShingle
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"),
        array_sort(collect_set(col("__src"))).as("__srcs"))
      .filter(col("__df") <= dfCap)
      // persisted (r17): perShingle feeds BOTH the per-source totals
      // and the pair explode — unpersisted, the full tokenize+shingle
      // +aggregate pass replays twice (the expensive half of q165)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = perShingle
      .select(explode(col("__srcs")).as("__src"))
      .groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val pairs = perShingle
      .select(posexplode(col("__srcs")).as(Seq("__i", "src_a")), col("__srcs"))
      .select(col("src_a"),
        explode(slice(col("__srcs"), col("__i") + lit(2), size(col("__srcs")))).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    pairs
      .join(broadcast(totals.select(col("__src").as("src_a"), col("__n").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("__src").as("src_b"), col("__n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        expr("(shared_shingles * 1000L) div (n_a + n_b - shared_shingles)")
          .as("jaccard_milli"))
  }

  /** BLOCKED fuzzy join (record linkage): match each dirty left row to
    * its best right-side candidate by edit distance — block first (an
    * equi-join on a caller-chosen block key, e.g. a name suffix or a
    * phonetic code: the step that makes linkage linear instead of the
    * |L|·|R| cross product), verify with the banded Levenshtein
    * (early-exit at `maxDistance`), keep ONE best match per left row
    * by min(struct(distance, right id)) — deterministic ties, never a
    * rank window. Left rows with no candidate within the bound are
    * absent (inner-match semantics; anti-join the result for the
    * unmatched report). Column names must be disjoint across sides. */
  def fuzzyJoin(left: DataFrame, leftId: String, leftCol: String,
      right: DataFrame, rightId: String, rightCol: String,
      maxDistance: Int, blockKey: Column => Column): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    require(Set(leftId, leftCol).intersect(Set(rightId, rightCol)).isEmpty,
      "left and right column names must be disjoint")
    val l = left.select(col(leftId), col(leftCol))
      .withColumn("__blk", blockKey(col(leftCol)))
    val r = right.select(col(rightId), col(rightCol))
      .withColumn("__blk", blockKey(col(rightCol)))
    l.join(r, Seq("__blk"))
      .withColumn("__dist",
        levenshtein(col(leftCol), col(rightCol), maxDistance).cast("long"))
      .filter(col("__dist") >= 0)
      .groupBy(col(leftId), col(leftCol))
      .agg(min(struct(col("__dist").as("d"), col(rightId).as("rid"),
        col(rightCol).as("rv"))).as("__best"))
      .select(col(leftId), col(leftCol),
        col("__best.rid").as(rightId), col("__best.rv").as(rightCol),
        col("__best.d").as("distance"))
  }

  /** RECORD LINKAGE (within-table entity resolution) — [[fuzzyJoin]]'s
    * machinery composed into the full workflow a master-data/identity
    * pipeline runs: BLOCK (equi-join on a caller-chosen key — the step
    * that keeps linkage linear instead of |R|² — same contract as
    * fuzzyJoin), VERIFY (banded Levenshtein with early exit at
    * `maxDistance`), CLUSTER (transitive closure over the verified
    * pairs via [[connectedComponents]] — A~B and B~C link A and C even
    * past the distance bound, the standard linkage semantics), and
    * CANONICALIZE (each record points at its cluster's MINIMUM id; the
    * survivorship rule beyond "min id" is the caller's next step).
    * Returns one row per input record: (idCol, valueCol, canonical_id,
    * cluster_size) — singletons included with cluster_size 1.
    *
    * Scale shape: one block-keyed self-equi-join (pair volume =
    * Σ_block n_b², the caller's blocking quality), a codegen'd
    * bounded Levenshtein on the pairs, then connectedComponents'
    * driver/distributed branching on the VERIFIED edge list (verified
    * duplicates are sparse even when candidates aren't — the
    * [[connectedComponents]] note) and one broadcast-able label join
    * back. The returned frame rides the CC persist (the q83 contract:
    * harness/caller releases). */
  def linkRecords(df: DataFrame, idCol: String, valueCol: String,
      maxDistance: Int, blockKey: Column => Column,
      localEdgeLimit: Int = DefaultLocalEdgeLimit): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val base = df.select(col(idCol).as("__id"), col(valueCol).as("__v"))
      .withColumn("__blk", blockKey(col("__v")))
    val pairs = base.select(col("__id").as("a"), col("__v").as("__va"),
        col("__blk"))
      .join(base.select(col("__id").as("b"), col("__v").as("__vb"),
        col("__blk")), Seq("__blk"))
      .filter(col("a") < col("b"))
      .filter(levenshtein(col("__va"), col("__vb"), maxDistance) >= 0)
      .select(col("a"), col("b"))
    val labels = connectedComponents(base.select(col("__id").as("id")),
      "id", pairs, "a", "b", localEdgeLimit = localEdgeLimit)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .join(base.select(col("__id").as("id"), col("__v")), Seq("id"))
      .select(col("id").as(idCol), col("__v").as(valueCol),
        col("cluster_id").as("canonical_id"), col("cluster_size"))
  }

  /** LSH RECALL/PRECISION audit — the banding-quality companion to
    * [[minhashCalibration]] (that one audits the ESTIMATOR; this one
    * audits the CANDIDATE GENERATOR): exhaustive ground truth = every
    * pair with exact shingle-set Jaccard ≥ threshold (enumerated via
    * the shared-shingle join — any pair with J > 0 shares a shingle,
    * so enumeration is complete; deliberately NO df cap, which is why
    * the contract is to run this on a deterministic SAMPLE, the
    * standard eval methodology — an uncapped shared-shingle join over
    * a full crawl corpus is exactly the explosion the production
    * pipelines df-gate away). Candidates = [[lshCandidates]] over the
    * operator's signatures: with the portable hash they aggregate the
    * truth's shingle rows (one tokenize+shingle pass feeds both), with
    * xxhash64 they are [[minhashSignature]]'s kernel projection over
    * the same sample. Returns ONE row:
    * (n_truth, n_candidates, n_hit, recall_ppm, precision_ppm) —
    * floor ppm; NULL when the respective denominator is 0.
    *
    * Scale shape (on the sample): shingle self-join for truth,
    * signatures + band join for candidates, one (a, b)
    * equi-join between the two pair sets, one counting reduction.
    * Cache note (the minhashCalibration rule): the shared shingle
    * frame persists for the call and is session-owned — sweep
    * callers materialize the one-row result and clearCache.
    *
    * The eval-sample contract is ENFORCED, not advisory (the
    * [[Similarity.mmrRerank]] explicit-budget rule): the input is
    * counted through a short-circuiting `limit(maxDocs+1).count()`
    * probe and the call REFUSES with a named error past `maxDocs`
    * (default [[LshAuditMaxDocs]] = 2^17 — comfortably above the
    * 10k–100k docs standard eval samples use, far below crawl-corpus
    * scale where the uncapped truth join explodes). Callers holding a
    * full corpus pass `sampleFraction` — a deterministic
    * [[Sampling.deterministicSample]] on the doc id (seed 42, same
    * `portable` arm as the signatures) applied BEFORE the probe, so
    * the audit is replayable and the budget checks the frame the
    * join actually sees. */
  def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, portable: Boolean = false,
      maxDocs: Long = LshAuditMaxDocs,
      sampleFraction: Option[Double] = None): DataFrame = {
    require(maxDocs >= 1L, s"maxDocs must be >= 1, got $maxDocs")
    sampleFraction.foreach(f => require(f > 0.0 && f <= 1.0,
      s"sampleFraction $f outside (0, 1]"))
    val evalDocs = sampleFraction.fold(docs)(f =>
      Sampling.deterministicSample(docs, idCol, f, seed = 42L,
        portable = portable))
    val cap = math.min(maxDocs, Int.MaxValue - 1L)
    val probed = evalDocs.limit((cap + 1L).toInt).count()
    require(probed <= maxDocs,
      s"lshRecallAudit ground truth is a deliberately UNCAPPED " +
      s"shared-shingle self-join — refusing >= $probed docs " +
      s"(budget maxDocs=$maxDocs). Run the audit on a deterministic " +
      "eval sample (pass sampleFraction), or raise maxDocs knowingly " +
      "for a corpus whose shingle-sharing profile you have priced.")
    val Dec = "decimal(38,0)"
    val sh = TextOps.shingleRows(
      evalDocs.repartition(col(idCol)), idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted (r17): the per-doc shingle sets join BOTH pair sides
    // of the exact-truth frame — unpersisted, the collect_set
    // aggregate over the cached shingle rows runs twice.
    // MATERIALIZED eagerly (r18): the audit's single readout action
    // consumes sh on both sides of the shared-shingle self-join and
    // sets on both truth sides CONCURRENTLY (AQE stage
    // materialization) — left lazy, the racing stages each recompute
    // the unfilled tokenize+window corpus pass. One count() fills the
    // sh cache (sets' parent) and the sets cache in one job.
    val sets = sh.groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("__set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count()
    val shared = sh.select(col(idCol).as("a"), col("shingle"))
      .join(sh.select(col(idCol).as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val truth = shared
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("__set", "__sa"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("__set", "__sb"), "b")
      .filter(jaccardCol(col("__sa"), col("__sb")) >= threshold)
      .select(col("a"), col("b"))
    // the shingle rows serve the exact truth; the signatures are the
    // operator's own, as minhashSignature computes them
    val sig =
      if (portable) portableSignatureFromRows(sh, idCol, k)
      else minhashSignature(evalDocs, idCol, textCol, k, shingleN)
    val cand = lshCandidates(sig, idCol, k, bands, portable)
    val t = truth.withColumn("__t", lit(1L))
    val c = cand.withColumn("__c", lit(1L))
    val joined = t.join(c, Seq("a", "b"), "full_outer")
    joined.agg(
        sum(coalesce(col("__t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("__c"), lit(0L))).as("n_candidates"),
        sum(when(col("__t").isNotNull && col("__c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        when(col("n_truth") > 0L,
          PortableDiv.nonNeg(col("n_hit").cast(Dec) * lit(1000000L),
            col("n_truth").cast(Dec)))
          .otherwise(lit(null).cast("long")).as("recall_ppm"),
        when(col("n_candidates") > 0L,
          PortableDiv.nonNeg(col("n_hit").cast(Dec) * lit(1000000L),
            col("n_candidates").cast(Dec)))
          .otherwise(lit(null).cast("long")).as("precision_ppm"))
  }

}
