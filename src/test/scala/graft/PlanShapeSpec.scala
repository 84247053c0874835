package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression-locks the physical-plan shapes that SCALE.md claims:
  * pushdown reaching the scan, top-k without global sort, broadcast
  * dims, partitioning reuse, codegen'd native expressions. A change
  * that silently degrades one of these shapes fails here, not in a
  * 100 TB incident. */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def planOf(q: String): String =
    plan(SparkEntry.queries(q)(spark, sfDir))

  /** The plan text above the cached corpus. Fails when the plan has no
    * cached relation at all, so the shape assertions on the slice cannot
    * pass on an empty string. */
  private def aboveCacheOf(p: String): String = {
    val at = p.indexOf("InMemoryRelation")
    assert(at >= 0, "plan lost the cached-corpus boundary (no InMemoryRelation): " + p)
    p.substring(0, at)
  }

  test("predicate queries push filters into the parquet scan and prune columns") {
    val p = planOf("q03_pred_eq")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]"), p)
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double,c_mktsegment:string>"), p)
  }

  test("events ts filter pushes down to the parquet scan (incremental-pull pattern)") {
    // the fixture's ts is physically TIMESTAMP_MICROS/NTZ; Fx.t must
    // normalize it AT THE SCAN (inferTimestampNTZ=false), not with a
    // cast above it — a cast would block pushdown and a date-window
    // incremental pull at 100 TB would full-scan
    val ev = core.Fx.t(spark, sfDir, "events")
    val p = plan(ev.filter(col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp"))
      .select("event_id", "ts"))
    assert(p.contains("GreaterThanOrEqual(ts,"),
      "ts filter must reach PushedFilters: " + p)
    // exact boundary ("timestamp>"), not a prefix — "ts:timestamp"
    // would also match "ts:timestamp_ntz" and mask an NTZ regression
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp>"),
      "scan must yield session-zoned timestamp directly and prune columns: " + p)
  }

  test("orderBy+limit collapses to TakeOrderedAndProject (no global sort)") {
    assert(planOf("q15_topk").contains("TakeOrderedAndProject"))
  }

  test("star join broadcasts every dimension side") {
    val p = planOf("q22_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("minhash signature reuses the doc-id partitioning: exactly one exchange") {
    val sig = graft.ext.Dedup.minhashSignature(
      core.Fx.t(spark, sfDir, "documents"), "doc_id", "text", k = 8)
    val p = plan(sig)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("native graft_dot participates in whole-stage codegen") {
    // a projection whose only non-trivial expression is graft_dot must
    // carry a codegen id (HOF expressions in the same project would
    // knock the whole stage out of codegen — that's why this is tested
    // in isolation; verified against codegen.fallback=false too)
    import spark.implicits._
    val base = spark.range(10)
      .select(expr("transform(sequence(0,9), i -> cast(i + id as double))").as("a"))
    val withDot = base.select(graft.functions.GraftFunctions.dot($"a", $"a").as("d"))
    val p = plan(withDot)
    val projLine = "(?m)^\\(\\d+\\) Project \\[codegen id : \\d+\\]".r
    assert(p.contains("graft_dot"), p)
    assert(projLine.findFirstIn(p).isDefined, p)
  }

  test("IVF literal-mode assignment is a narrow map: one exchange (the id spread), no join, no window") {
    val idx = graft.ext.Similarity.ivfBuild(
      core.Fx.t(spark, sfDir, "embeddings"), "vec_id", "embedding", nCentroids = 4,
      broadcastCentroids = false)
    try {
      val p = plan(idx.assigned)
      // everything ABOVE the cached normalized corpus must be narrow:
      // the only allowed shape is Project → InMemoryTableScan (the one
      // exchange lives inside the cached relation's build plan)
      val aboveCache = aboveCacheOf(p)
      assert(aboveCache.contains("InMemoryTableScan"), p)
      Seq("Exchange", "Join", "Window").foreach(op =>
        assert(!aboveCache.contains(op), s"assignment must not $op: $p"))
    } finally idx.unpersist()
  }

  /** The encode-assign kernel's shape over the cached corpus: the
    * kernel is in the plan, and nothing above the cache joins,
    * aggregates or exchanges — the fan-out join, the `max_by` fold and
    * their exchanges must not come back. */
  private def assertKernelProjection(p: String): Unit = {
    assert(p.contains("graft_encode_assign"),
      "constants must reach the rows through the encode-assign kernel: " + p)
    val aboveCache = aboveCacheOf(p)
    assert(aboveCache.contains("InMemoryTableScan"), p)
    Seq("Join", "Aggregate", "Exchange").foreach(op =>
      assert(!aboveCache.contains(op), s"the kernel projection must not $op: $p"))
  }

  test("IVF broadcast-mode assignment: one kernel projection over the cached corpus, no join, aggregate or exchange") {
    // the production default: the centroid matrix rides in the kernel's
    // Spark broadcast (out of the task binaries), and the assignment is
    // as narrow as the literal mode — the only exchange in the whole
    // plan is the id spread inside the cached corpus
    val idx = graft.ext.Similarity.ivfBuild(
      core.Fx.t(spark, sfDir, "embeddings"), "vec_id", "embedding", nCentroids = 4)
    try assertKernelProjection(plan(idx.assigned))
    finally idx.unpersist()
  }

  test("fused IVF-PQ build: one kernel projection, no join, aggregate or exchange above the cached corpus") {
    // r16 planned the assignment aggregate, the encode's two aggregates
    // AND an id join; r17 one broadcast fan-out + one sort aggregate;
    // the kernel computes (centroid_id, codes) per row in a projection
    val books = graft.ext.Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
    val idx = graft.ext.Similarity.ivfPqBuild(
      core.Fx.t(spark, sfDir, "embeddings"), "vec_id", "embedding",
      nCentroids = 4, books)
    try assertKernelProjection(plan(idx.encoded))
    finally idx.unpersist()
  }

  test("IVF search broadcasts the probe side — the corpus never shuffles for candidates") {
    val emb = core.Fx.t(spark, sfDir, "embeddings")
    val idx = graft.ext.Similarity.ivfBuild(emb, "vec_id", "embedding", nCentroids = 4)
    try {
      val p = plan(graft.ext.Similarity.ivfSearch(
        idx, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5, nprobe = 2))
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), "candidate join must not shuffle the corpus: " + p)
    } finally idx.unpersist()
  }

  test("ANN top-k is a bounded heap aggregate in EVERY search path: no per-query window sort") {
    // the row_number window this replaced hashed ALL of one query's
    // candidates to a single task (the whole corpus, for brute force /
    // PQ) and sorted them fully — the one shape that cannot survive a
    // 100× corpus. Each path must plan the bounded TypedImperativeAgg
    // (ObjectHashAggregate, map-side partial) and no Window at all.
    val emb = core.Fx.t(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val idx = graft.ext.Similarity.ivfBuild(emb, "vec_id", "embedding", nCentroids = 4)
    try {
      val books = graft.ext.Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16)
      val enc = graft.ext.Similarity.pqEncode(emb, "vec_id", "embedding", books)
      val paths = Map(
        "bruteForce" -> graft.ext.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 5),
        "ivf" -> graft.ext.Similarity.ivfSearch(
          idx, q, "vec_id", "embedding", k = 5, nprobe = 2),
        "pq" -> graft.ext.Similarity.pqSearch(
          enc, "vec_id", books, q, "vec_id", "embedding", k = 5),
        "pqRerank" -> graft.ext.Similarity.pqSearchRerank(
          enc, "vec_id", books, emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 5, shortlist = 10),
        "ivfPq" -> graft.ext.Similarity.ivfPqSearch(
          graft.ext.Similarity.IvfPqIndex(
            idx.assigned.join(enc.withColumnRenamed("vec_id", "__id"), Seq("__id"))
              .select(col("__id"), col("centroid_id"), col("codes")),
            idx.centroids, books),
          emb, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 5, nprobe = 2, shortlist = 10))
      paths.foreach { case (name, df) =>
        val p = plan(df)
        assert(p.contains("graft_topk_by_score"), s"$name must use the heap agg: $p")
        assert(p.contains("ObjectHashAggregate"), s"$name must hash-aggregate: $p")
        assert(!p.contains("Window"), s"$name must not window-sort per query: $p")
      }
    } finally idx.unpersist()
  }

  test("df-capped Jaccard filters viral shingles BEFORE the self-join, via aggregates not windows") {
    val p = plan(graft.ext.Dedup.ngramJaccardPairs(
      core.Fx.t(spark, sfDir, "documents"), "doc_id", "text", maxDf = 50))
    // the df cap filter exists, and the pair join consumes the CAPPED
    // (persisted) shingle rows — join strategy is AQE's choice
    assert(p.contains("Join"), p)
    assert(p.contains("__df"), p)
    assert(p.contains("InMemoryTableScan"), "capped rows must be persisted: " + p)
    // df and per-doc size are HASH AGGREGATES (map-side partial), not
    // full-sort windows — no window may be keyed on the shingle or the
    // doc-set: the only allowed windows are shingleRows' lead() over
    // the token position
    assert(!"windowspecdefinition\\(__sh".r.findFirstIn(p).isDefined,
      "__df must come from an aggregate, not a window: " + p)
    assert(!"windowspecdefinition\\(__id".r.findFirstIn(p).isDefined,
      "__n must come from an aggregate, not a window: " + p)
  }

  test("exact dedup on a text key exchanges a fixed-width digest, not the document body") {
    val docs = core.Fx.t(spark, sfDir, "documents")
    val p = plan(graft.ext.Dedup.exact(docs, Seq("text"), "doc_id"))
    // the window partition expression must be md5(text): the shuffle
    // then carries 32 chars per row instead of the full document, and
    // the sort compares digests instead of O(doc-length) strings
    assert("md5\\(".r.findFirstIn(p).isDefined, p)
    assert(!"windowspecdefinition\\(text#".r.findFirstIn(p).isDefined,
      "window must not partition on the raw text column: " + p)
  }

  test("global sequence packing never sorts in a single partition") {
    val docs = core.Fx.t(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("tok"))
    val p = plan(graft.ext.Sampling.packSequences(
      docs, "tok", "doc_id", maxTokens = 512L))
    // the data-sized window must be partitioned (by the range bucket);
    // the only unpartitioned window allowed is the bucket-offset pass
    // over `globalBuckets` rows, which sits under the broadcast
    assert(p.contains("__bkt"), p)
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast back: " + p)
  }

  test("KMV distinct-count runs as a bounded-buffer aggregate: no distinct pre-pass, no window sort") {
    val p = plan(graft.ext.Sketches.kmvDistinctCount(
      core.Fx.t(spark, sfDir, "lineitem"), "l_returnflag", "l_orderkey", k = 16))
    assert(p.contains("graft_kmv_distinct"), p)
    assert(p.contains("ObjectHashAggregate"), "sketch must hash-aggregate: " + p)
    assert(!p.contains("Window"), "no per-group sort window: " + p)
    // exactly one exchange: the final merge on the group key (partials
    // are map-side)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, p)
  }

  test("bloom-pruned join probes BEFORE the join: filter sits on the big-side scan") {
    // traverse the physical tree, not the formatted string (a string
    // match can't tie the probe to its position — the round-3 vacuous-
    // plan-test lesson): find the Filter whose condition is the bloom
    // probe (element_at over the word-array literal) and require that
    // NO join exists below it — i.e. it prunes the scan side, pre-join
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    val plan: SparkPlan = SparkEntry.queries("q96_bloom_join")(spark, sfDir)
      .queryExecution.sparkPlan
    val probeFilters = plan.collect {
      case f: FilterExec if f.condition.toString.contains("element_at") => f
    }
    assert(probeFilters.nonEmpty, "bloom probe filter missing:\n" + plan)
    probeFilters.foreach { f =>
      val joinsBelow = f.collect {
        case p if p.nodeName.toLowerCase.contains("join") => p
      }
      assert(joinsBelow.isEmpty,
        "bloom probe must sit BELOW the join (pre-exchange), found above: " + f)
    }
    // and the plan does contain the verifying join itself
    assert(plan.collect {
      case p if p.nodeName.toLowerCase.contains("join") => p
    }.nonEmpty, "verifying join missing:\n" + plan)
  }

  test("decontamination broadcasts the benchmark shingle set (corpus never shuffles for the probe)") {
    val p = planOf("q100_decontaminate")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "bench shingles must broadcast into a semi-join: " + p)
    assert(!p.contains("SortMergeJoin"),
      "corpus shingles must not sort-merge against the benchmark: " + p)
  }

  test("count-min estimates broadcast the counter matrix and reuse the distinct partitioning") {
    val p = planOf("q95_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), "counter join must broadcast: " + p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort: " + p)
    // two exchanges: the distinct on values and the counter aggregate —
    // the final min-estimate groupBy must NOT add a third
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 2, p)
  }

  test("repetition stats run on a single doc-id exchange end-to-end") {
    val p = planOf("q97_repetition")
    // window (bigram lead) + aggregate share the exploded doc-id
    // partitioning: one data exchange plus the final presentation sort
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges (data + sort), got $exchanges: " + p)
  }

  test("q89's bucketed join plans with no exchange on the bucket key") {
    // formatted-mode explain splits operator and arguments onto
    // separate lines, and the tiny fixture would broadcast (which
    // bypasses bucketing) — so use single-line executedPlan.toString
    // with broadcast disabled, like BucketingSpec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q89_bucketed_join")(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!"Exchange hashpartitioning\\(c_custkey".r.findFirstIn(p).isDefined,
        "bucketed sides must not re-shuffle on the join key:\n" + p)
      // the only exchange is the post-join aggregation on c_mktsegment
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("binned range join plans as an equi-join, never a nested-loop cross product") {
    val p = planOf("q86_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("classifier score: model joins as a broadcast relation, features never nested-loop") {
    val p = planOf("q113_classifier_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LM score: model joins as a broadcast relation, bigrams never nested-loop") {
    val p = planOf("q117_lm_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("duplicated-span detect + removal plan only equi-joins (df gate, span anti-join)") {
    for (q <- Seq("q114_dup_spans", "q115_span_removal")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      // the span anti-join carries a range RESIDUAL on an equi key —
      // a nested-loop would mean the doc-id equality fell out of the
      // join condition
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("gopher quality rules are a pure projection: no exchange before the presentation sort") {
    val p = planOf("q124_gopher_quality")
    // every rule is per-row regex/length arithmetic — any
    // hashpartitioning exchange here means someone introduced a
    // token-array groupBy into what must stay a narrow scan
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Project"), p)
  }

  test("within-doc line dedup: the occurrence window reuses the id spread, never re-shuffles on the line hash") {
    val p = planOf("q128_within_doc_lines")
    assert(!"Exchange hashpartitioning\\([^)]*md5".r.findFirstIn(p).isDefined,
      "window must ride the id partitioning: " + p)
  }

  test("token-budget selection: data-sized window is bucket-partitioned; offsets broadcast back") {
    val p = planOf("q129_token_budget")
    assert(p.contains("__bkt"), p)
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast back: " + p)
  }

  test("distributed ntile: rank windows partition on (key, bucket), never key alone") {
    val p = planOf("q138_ppl_buckets")
    // the CCNet bucketer exists to avoid one window partition per
    // language; the row_number window must carry BOTH lang and the
    // range bucket in its partition spec
    val winSpecs = "windowspecdefinition\\(lang[^)]*".r.findAllIn(p).toList
    assert(winSpecs.nonEmpty, "expected a lang-partitioned window: " + p)
    winSpecs.foreach(w =>
      assert(w.contains("__bkt"), s"window partitions on lang alone: $w"))
    assert(p.contains("BroadcastHashJoin"),
      "rank offsets must broadcast back: " + p)
  }

  test("pii scrub is a pure projection: no exchange before the presentation sort") {
    val p = planOf("q106_pii_scrub")
    // regexp scrub + counts must stay per-row (codegen'd projections);
    // the ONLY exchange allowed is the final orderBy's range partition
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Project"), p)
  }

  test("stratified sample filters at the scan side: no exchange before the group-by") {
    val p = planOf("q104_stratified_sample")
    // one hash exchange for the lang aggregate, one range for the sort —
    // the bucket filter itself must not shuffle anything
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("driver smoke contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("upsert never broadcasts the target side") {
    val target = core.Fx.t(spark, sfDir, "lineitem") // the big side
    val updates = core.Fx.t(spark, sfDir, "lineitem").limit(10)
    val p = plan(core.Mutations.upsert(target, updates,
      Seq("l_orderkey", "l_linenumber")))
    // full-outer merge: broadcast is not even an option — expect a
    // shuffle-based join over both sides
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("PPS sample runs as TakeOrdered, never a global sort") {
    assert(planOf("q160_pps_sample").contains("TakeOrderedAndProject"))
  }

  test("bloom probe broadcasts the set-bit frame; probes never shuffle for the join") {
    val p = planOf("q158_bloom_merge")
    assert(p.contains("BroadcastHashJoin LeftOuter"),
      "the set-bit frame must broadcast to the probes: " + p)
  }

  test("histogram quantile windows run over state, after the bin aggregate") {
    val p = planOf("q162_hist_quantile")
    // the Window must sit ABOVE a HashAggregate (state rows), and the
    // plan must not sort the raw data (only the <=1024-row state)
    val winIdx = p.indexOf("Window")
    assert(winIdx > 0 && p.lastIndexOf("HashAggregate") > 0, p)
    assert(p.substring(winIdx).contains("HashAggregate") ||
      p.substring(0, winIdx).contains("HashAggregate"), p)
  }

  test("source overlap never self-joins the corpus: pairs explode from the source array") {
    val p = planOf("q165_source_overlap")
    // one Generate for the shingle explode, one for the pair explode —
    // and no join keyed on the shingle between corpus-sized sides
    assert("Generate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"),
      "the reshape must not reintroduce the shingle-keyed self-join: " + p)
  }

  test("heap top-k per group is an ObjectHashAggregate (bounded state, map-side combine)") {
    val p = planOf("q163_topk_per_group")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), "no row_number window on the data: " + p)
  }

  test("degree-ordered triangles: equi hash joins only, never a cross product") {
    val p = planOf("q197_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "triangle enumeration must stay equi-keyed: " + p)
  }

  test("constraint suite reads the table at most twice (row checks in ONE scan + unique pass)") {
    val p = planOf("q196_constraints")
    // formatted mode lists each scan twice (tree line + detail header),
    // so 2 physical scans == 4 textual matches
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"expected <= 2 physical scans for 5 row checks + 1 unique, got $scans mentions: " + p)
  }

  test("retrieval eval ranks via TakeOrdered per term, never a global sort of the corpus") {
    val p = planOf("q199_retrieval_eval")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("TPC-H Q3: filters reach all three scans; top-10 is TakeOrdered, not a global sort") {
    val p = planOf("q214_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("GreaterThan(l_shipdate,"), "shipdate filter must reach the fact scan: " + p)
    assert(p.contains("LessThan(o_orderdate,"), "orderdate filter must reach the orders scan: " + p)
  }

  test("TPC-H Q5: nation and region broadcast; no cartesian anywhere in the 6-table star") {
    val p = planOf("q215_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation and region must broadcast: " + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("TPC-H Q18: the HAVING side joins semi, and the big-order filter is an aggregate, not a window") {
    val p = planOf("q217_tpch_q18")
    assert(p.contains("LeftSemi"), "big-order keys must prune orders via a semi join: " + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("OHLC bars: open/close via struct argmin/argmax aggregates, never a rank window") {
    val p = planOf("q229_ohlc_bars")
    assert(!p.contains("Window"), "no rank windows in the bar aggregate: " + p)
  }

  test("fuzzy join: blocking keeps it equi-keyed, never a cross product") {
    val p = planOf("q226_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the block key must carry the join: " + p)
  }

  test("two-sample tests: every window rides a bucket partition, margins broadcast") {
    for (q <- Seq("q241_rank_sum", "q242_ks_test", "q250_percentile_norm")) {
      val p = planOf(q)
      // the cumulative pass must be the range-bucketed two-phase form:
      // its window partitions on the bucket column, never unpartitioned
      assert(p.contains("__bkt"), s"$q must range-bucket its prefix sum: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("impact index: posting cap is the heap aggregate, never a per-term window") {
    val p = planOf("q249_impact_index")
    assert(p.contains("ObjectHashAggregate"), "TopKByScore heap expected: " + p)
    assert(!p.contains("Window"), "no per-term rank window: " + p)
  }

  test("media dHash: banded self-join stays equi-keyed on the persisted signatures") {
    val p = planOf("q246_media_dhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band hash must carry the join: " + p)
    assert(p.contains("InMemoryTableScan"),
      "signature frame must persist across both self-join sides: " + p)
  }

  test("retractable MV merge: keyed hash aggregates end to end — no join, no window") {
    // the q261 shape: three one-aggregate states union into ONE signed
    // merge aggregate; a join- or window-based formulation would stop
    // being a pure group-algebra rollup (and would not scale as one)
    val li = core.Fx.t(spark, sfDir, "lineitem")
    val keys = Seq("l_returnflag"); val ms = Seq("l_quantity")
    val st = (f: DataFrame) => graft.ext.Incremental.retractableState(f, keys, ms)
    val p = plan(graft.ext.Incremental.mergeRetractable(keys, ms,
      Seq(st(li.filter(col("l_orderkey") % 3 =!= 0)),
        st(li.filter(col("l_orderkey") % 3 === 0))),
      Seq(st(li.filter(col("l_orderkey") % 5 === 1)))))
    assert(!p.contains("Join") && !p.contains("Window"),
      "signed merge must be union + aggregate only: " + p)
    assert("HashAggregate".r.findAllIn(p).nonEmpty, p)
  }

  test("HLL register build (the sketch-ingest batch step) is one keyed aggregate") {
    // q260's per-batch work: sketch the batch ALONE — one explode-free
    // projection + one (period, bucket) hash aggregate; no join, no
    // window, nothing data-sized retained
    val ev = core.Fx.t(spark, sfDir, "events")
      .withColumn("day", to_date(col("ts")))
    val p = plan(graft.ext.Sketches.hllRegisters(ev, "day", "user_id"))
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      "register build must exchange once, on the group key: " + p)
  }

  test("distributed CC labeling: equi-joins and aggregates only, persisted result") {
    // the q259 path (loop FORCED): every round is edge⋈label + min
    // aggregate; the returned labeling must show no cross product and
    // come back persisted (the loop's product is not replayable for free)
    val nodes = spark.range(64).select(col("id"))
    val edges = spark.range(64).filter(col("id") % 4 =!= 3)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val cc = graft.ext.Dedup.connectedComponents(nodes, "id", edges, "a", "b",
      shortcut = true, localEdgeLimit = 0)
    val p = plan(cc)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"),
      "loop labeling must return persisted: " + p)
    cc.unpersist()
  }

  test("guarded LSH candidates ride ONE exchange: the occupancy window shares the join's (band, hash) shuffle and the second join side is a ReusedExchange") {
    // r15 rewrite (r14 verdict next-round #1c): the r14 shape joined a
    // separately-aggregated occupancy side, paying a THIRD evaluation
    // of the signature subtree plus an extra join; the window form
    // must show (a) a Window over the same keys the join shuffles on
    // and (b) the rgt side reusing the l side's exchange. Static plan
    // (AQE off — reuse markers are not printed through query stages).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val docs = graft.core.Fx.t(spark, sfDir, "documents").limit(500)
      val sig = graft.ext.Dedup.minhashSignature(docs, "doc_id", "text",
        k = 16, shingleN = 3, portable = true)
      val cand = graft.ext.Dedup.lshCandidatesGuarded(sig, "doc_id",
        k = 16, bands = 4, portable = true)
      val p = plan(cand)
      assert(p.contains("ReusedExchange"),
        "the guard's window must share the candidate join's exchange: " + p)
      assert(p.contains("Window"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
