package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical 10× scale check for the headline extension family
  * (VERDICT r5 item 4): SCALE.md's plan-shape claims, measured.
  *
  * Generates a structure-preserving 10× replica fixture from sf0.1 and
  * records base-vs-10× wall-clock ratios for q45 (MinHash+LSH), q83
  * (winnowing → connected components), q96 (bloom-pruned join) and q99
  * (incremental dedup). A linear-work operator should land near 10×
  * (modulo fixed overheads); a quadratic candidate explosion would show
  * as ≥100×.
  *
  * Replication must not invent cross-replica near-duplicates (10
  * verbatim copies of every doc would turn each doc into a 10-clique —
  * a quadratic artifact the real sf1 would NOT have). Replica k > 0
  * appends an ALPHANUMERIC k-specific suffix ("qqK") to every word:
  * the map is a bijection on the vocabulary AND each suffixed word is
  * still ONE token under the pipeline tokenizer ([^a-z0-9]+ splits) —
  * an underscore separator would detach into a constant extra token
  * after every word, rewriting every doc's token stream and shingle
  * structure. With the bijection, all intra-replica similarity
  * structure (shingle sets, winnowing fingerprints, md5 fingerprints,
  * dfs) is preserved bit-for-bit, while replica vocabularies are fully
  * DISJOINT — zero cross-replica shingle/fingerprint overlap, so
  * pair/cluster counts scale exactly ×10 with the rows. (A partial
  * perturbation — suffix only hash-even words — was tried first and
  * is a trap: the ~3 % of n-grams made of never-perturbed words stay
  * replica-INVARIANT, and any viral such n-gram grows its candidate
  * bucket 10× → pairs 100× — a quadratic artifact again.) Keys
  * (doc_id, vec_id, partkeys) are offset per replica.
  *
  * Also re-checks the AQE skew split (DedupSpec's law) on a 10×-sized
  * crawl-like corpus: one boilerplate template shared by 800 docs
  * (~10 %, the crawl-realistic fraction) in a background of 8 000
  * unique docs — byte thresholds scaled to the fixture (the hot bucket
  * is ~KBs here; production defaults engage at 256 MB).
  *
  * Usage: SPARK_DRIVER_MEM=16g sbt "runMain graft.tools.Scale10x
  * [srcDir outDir replicas]" (the 10× q83 run OOMs at the default 8 g
  * heap; `--skew-only` runs just the AQE skew re-check). Prints one
  * JSON line; results are recorded in SCALE.md. Generation is
  * idempotent — delete outDir to regenerate. Measure on a fresh JVM:
  * running generation and measurement in one process inflates the
  * base timings (GC pressure from the generation phase).
  */
object Scale10x {
  private val Queries =
    Seq("q45_minhash_neardup", "q83_dedup_clusters", "q96_bloom_join",
      "q99_incremental_dedup",
      // ANN search family — all finish in the bounded top-k heap
      // aggregate; a per-query window sort would show here as a
      // super-linear ratio driven by the single sorting task
      "q49_ann_topk", "q50_ann_ivf", "q84_ann_pq", "q110_ann_ivfpq",
      // CC-composed curation (r7: bounded union-find fast path — the
      // ratio checks the LOCAL path absorbs a 10× edge list; the
      // distributed loop engages past 2^20 edges) and the cross-set
      // incremental near-dup
      "q105_leakage_split", "q107_incremental_neardup", "q60_curation_pipeline",
      // r7-late additions: the hashed-feature classifier (narrow explode
      // + broadcast model join — should read ~linear) and duplicated-
      // span detection (two gram-window passes + equi-joins; the
      // vocabulary bijection keeps cross-replica grams disjoint, so
      // surviving-gram volume scales ×10, not ×100)
      "q113_classifier_score", "q114_dup_spans",
      // training/statistics paths: bucket-bounded aggregates (outputs
      // are buckets / buckets² rows at any corpus size) and the bigram
      // LM scorer (the q113 shape with a (ctx, tok) model key)
      "q116_train_counts", "q117_lm_score", "q118_lm_counts",
      // final r7 additions: paragraph dedup (hash-keyed df gate +
      // broadcast-hot removal — the planted boilerplate lines repeat
      // per replica, so hot-paragraph volume scales ×10, never ×100)
      // and the BPE paths (word-dictionary aggregate + narrow
      // replace-chain encode — both ~linear by construction)
      "q119_dup_paragraphs", "q120_paragraph_removal",
      "q121_bpe_pair_counts", "q122_bpe_encode",
      // r9 additions: sessionization (both forms — user-partitioned
      // window vs session_window merge; replicas add ×10 USERS with
      // identical per-user series, so session structure is preserved
      // and work should read ~linear), the Gopher rule projection
      // (pure per-row regex — the flattest ratio on the list), and
      // keep-best near-dup removal (winnowing + CC + one keeper
      // aggregate; the union-find fast path absorbs the 10× edges)
      "q38_sessionize", "q123_session_window",
      // r12: the REAL streaming session path — same ×10-users
      // preservation argument as q123, plus the fixed 5-micro-batch
      // streaming overhead that amortizes as rows grow (the ratio
      // should read SUB-linear)
      "q307_session_stream",
      // r12 operators: conformal rank (range-bucketed distributed
      // rank — the q129 machinery), Kaplan–Meier (one user aggregate
      // + a bounded-histogram fold: the fold is size-invariant),
      // k-anonymity lattice (ONE data aggregate to cells, lattice
      // over the domain-sized cell frame), record linkage (block
      // self-join + verified-edge CC — ×10 users keep per-block
      // membership structure, so pairs scale ×10)
      "q308_conformal", "q310_kaplan_meier",
      "q309_k_anon_lattice", "q311_record_linkage",
      // CvM rides the q242 value-domain machinery; priority sampling
      // is a TakeOrdered(n+1) — both should read near-flat
      "q312_cvm_test", "q313_priority_sample",
      "q124_gopher_quality", "q125_keep_best_dedup",
      // deterministic shuffle: one shard exchange + per-shard sort —
      // shard count is FIXED while rows grow, so per-shard sorts grow
      // linearly and the ratio should read near-linear, never worse
      "q126_shuffle_shards",
      // native NFC: pure codegen'd projection, compute-proportional
      "q127_nfc_normalize",
      // within-doc line dedup (one id exchange, digest-keyed window)
      // and token-budget selection (bucketed prefix sum — budget held
      // FIXED while the corpus grows 10×, so the kept set shrinks to
      // the best tenth and the cost is the ranking, not the output)
      "q128_within_doc_lines", "q129_token_budget",
      // per-key cap: one key exchange, per-key sorts bounded by group size
      "q130_cap_per_domain",
      // r10 additions: BM25 (one broadcast stats row + narrow tf
      // columns + top-k heap — should read ~linear), distributed
      // per-key NTILE (range-bucketed ranks; a naive per-lang window
      // would show here as the single-task sort), DSIR scoring
      // (feature explode + broadcast weights + doc aggregate — the
      // q113 shape), and character diversity (char explode + two
      // keyed aggregates on one id-hash exchange)
      "q131_bm25_rank", "q138_ppl_buckets", "q139_dsir_select",
      "q141_char_diversity",
      // late-r10: sketch calibration (shared shingle pass + banded
      // candidates — the candidate list is the data-sized term),
      // integer PageRank (fixed-size graph ⇒ per-round work constant,
      // the ratio reads the edge-derivation scan), span-level
      // decontamination (gram windows + broadcast bench semi-join),
      // and the HLL merge (two bounded sketches + register merge)
      "q144_sketch_calibration", "q150_pagerank",
      "q151_decontaminate_spans", "q152_hll_merge",
      // r10-close additions. Sketch frames are size-bounded whatever
      // the input (bloom ≤ mBits set bits, histogram ≤ bins rows per
      // group, MV state ≤ |keys| rows), so their ratios read the scan;
      // sourceOverlap's kept-shingle frame scales ×10 (replica
      // vocabularies are disjoint, so cross-replica pairs are zero and
      // shared counts are additive); the behavioral family (scd2,
      // retention, funnel, transitions) rides user-key exchanges with
      // ×10 users and identical per-user series — per-user work is
      // constant, totals linear; PPS keeps a FIXED n=200 via
      // TakeOrdered (per-partition top-n, driver merge of 200-row
      // partials — the output does not grow with the corpus).
      "q158_bloom_merge", "q159_incremental_mv", "q160_pps_sample",
      "q161_key_skew", "q162_hist_quantile", "q164_scd2",
      "q165_source_overlap", "q166_mad_outliers", "q167_winsorize",
      "q168_retention", "q169_funnel", "q171_transitions",
      // r10 final tier. Sketch/state-sized readouts (rolling WAU's
      // range join runs over |days|×64 registers; drift and the
      // column profile collapse to state after one scan; the CM
      // join-size estimate joins two counter matrices), behavioral
      // aggregates on user/day keys (trend/changepoint collapse to
      // per-day counts first), text ops with one explode pass
      // (keywords, next-word, OOV — vocab/df frames broadcast), and
      // the pair generators with bounded per-key fan-out (assoc
      // rules: per-basket item counts; correlation: one row of
      // sufficient statistics).
      "q172_rolling_wau", "q174_source_drift", "q176_column_profile",
      "q177_fk_orphans", "q178_date_spine", "q179_assoc_rules",
      "q180_correlation", "q182_oov_rate", "q183_join_size_est",
      "q184_keywords", "q185_next_word", "q186_trend",
      "q187_changepoint",
      // r10 session-2 tier. Constraints/FD/mode collapse to
      // state-sized reports after keyed aggregates; the behavioral
      // family (attribution, CUPED, covered time, streaks, debounce)
      // rides user-key windows with ×10 users and constant per-user
      // work; triangles run over the FIXED mod-101 contract graph
      // (the ratio reads the edge-derivation scan, like q150); RFM's
      // three NTILE cuts rank ×10 customers; calibration is the q113
      // feature hash + one cut; the TPC-H shapes are the selective
      // join-agg-topk family — filters prune before every exchange
      "q196_constraints", "q197_triangles", "q198_rfm",
      "q201_attribution", "q202_cuped", "q205_calibration",
      "q208_fd_audit", "q210_covered_time", "q211_streaks",
      "q212_debounce", "q214_tpch_q3", "q215_tpch_q5", "q217_tpch_q18",
      // r11: the statistics/audit tier. Rank machinery (rank-sum, KS,
      // Spearman, percentile-norm, quantile bands, weighted median,
      // top-k ties) is range-bucketed everywhere — distinct-value
      // aggregates + per-bucket windows + broadcast offsets, so a
      // value domain never becomes one window partition; contingency
      // tests (chi-square, kappa) collapse to margin-sized cells;
      // fingerprint is one commutative decimal sum; dHash/novelty ride
      // the banded-candidate machinery; anomalous-days/impact/keyset/
      // l-diversity are keyed aggregates. ANN-adjacent paths with
      // FIXED anchors (hard negatives, MMR: vec_id < 5 per replica
      // stride) read linear; margin mining deliberately scales BOTH
      // label sets ×10 — its brute-force candidate pass is the
      // documented ×100 boundary (swap in IVF candidate generation
      // past broadcast scale), measured here to show exactly that.
      "q238_anomalous_days", "q239_keyset_pages", "q240_topk_ties",
      "q241_rank_sum", "q242_ks_test", "q243_l_diversity",
      "q244_fingerprint", "q245_weighted_median", "q246_media_dhash",
      "q247_hard_negatives", "q248_chi_square", "q249_impact_index",
      "q250_percentile_norm", "q251_containment", "q252_mmr_rerank",
      "q253_spearman", "q254_margin_mine", "q255_quantile_bands",
      "q256_cohens_kappa", "q257_novelty", "q258_sign_test",
      // r11 gates: sketch-ingest replay (3 batches + 1 replay of ×10
      // users — register table stays |days|×64) and the retractable MV
      // (three shard states collapse to |keys| rows before the signed
      // merge). q259 is EXCLUDED by design: its 1.42M-node chain graph
      // is fixture-independent (the constants ARE the scale test), so
      // a base/×10 ratio would read an empty 1.0.
      "q260_sketch_ingest_replay", "q261_mv_retract",
      // r11 sessions 3-5. Sketch/series readouts (retention matrix,
      // EWMA, seasonal: the data-sized term is one keyed aggregate,
      // everything after runs on day-domain frames; vocab coverage /
      // concentration / calibration / Cramér's V collapse to
      // profile-, key-, bin- and margin-sized frames), text passes
      // with df gates (co-occur lift's pair join is capped at
      // C(24,2) per doc; NOTE the ×10 fixture's disjoint replica
      // vocabularies drop every token's df ppm ~10×, so MORE tokens
      // clear the 80% ceiling than at base — the ratio carries that
      // gate-population shift, not a shape change), drift over
      // (group, value) cells, behavioral keyed windows (burstiness,
      // trigrams, cohort LTV, churn, SMD, DiD), graph degree joins
      // (assortativity), and the ANN-recall composition (brute + PQ
      // with FIXED vec_id < 5 anchors). q275/q297 are EXCLUDED by
      // the q259 rule: their synthetic range fixtures are
      // fixture-independent, a ratio would read an empty 1.0.
      "q276_sketch_retention", "q277_seasonal", "q278_cluster_quality",
      "q279_vocab_coverage", "q280_concentration", "q281_ewma",
      "q282_two_proportion", "q283_calibration", "q284_cramers_v",
      "q285_cooccur_lift", "q286_hellinger_drift", "q287_burstiness",
      "q288_event_trigrams", "q289_label_vote", "q290_vocab_overlap",
      "q291_cohort_revenue", "q292_covariate_balance",
      "q293_churn_tenure", "q294_assortativity", "q295_diff_in_diff",
      "q296_ann_recall",
      // r11 sessions 6-7. Bounce/time-to-convert/new-returning/PIT
      // ride user-keyed windows and aggregates (×10 users, constant
      // per-user work); ABC's cumulative share runs over the ×10 part
      // domain; QTE/MDE collapse to per-arm rank passes / one counts
      // row. q302's ground-truth join is the DOCUMENTED quadratic-in-
      // hot-shingles term — replica vocabularies are disjoint, so
      // pairs scale ×10 with the corpus here (the eval-sample
      // contract is what bounds it in production).
      "q298_bounce_rate", "q299_time_to_convert", "q300_abc_classes",
      "q301_qte", "q302_lsh_recall", "q303_pit_join", "q304_mde",
      "q305_new_returning")

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/scale10x")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()

    if (args.contains("--skew-only")) {
      println(s"""{"metric":"scale10x-skew","skew_split":${skewSplitEngages(spark)}}""")
      spark.stop()
      return
    }

    if (!new java.io.File(s"$out/documents.parquet").exists())
      generate(spark, src, out, reps)

    // --only=q49,q50 restricts the measured set (fixture unaffected).
    // Patterns are Verify's name filter over the FULL gate registry,
    // not just the curated default list — a newly added query is
    // measurable without editing this file.
    val selected = args.find(_.startsWith("--only="))
      .map(o => graft.SparkEntry.select(Some(o.stripPrefix("--only="))))
      .getOrElse(Queries.map(n => n -> graft.SparkEntry.queries(n)))
    // Bench's protocol on each fixture; a query that failed on either
    // is reported by name and left out of the ratios
    val base = graft.Bench.time(spark, src, selected)
    val x10 = graft.Bench.time(spark, out, selected)
    val (timed, failed) = selected.map(_._1)
      .partition(n => base.contains(n) && x10.contains(n))
    if (failed.nonEmpty)
      println(s"[scale10x] failed: ${failed.mkString(",")}")
    val results = timed.map { name =>
      val (b, x) = (base(name), x10(name))
      val ratio = x / b
      println(f"[scale10x] $name base=$b%.2fs x10=$x%.2fs ratio=$ratio%.1fx")
      name -> (b, x, ratio)
    }
    val skew = skewSplitEngages(spark)
    val qjson = results.map { case (n, (b, x, r)) =>
      f""""$n":{"base_s":$b%.2f,"x10_s":$x%.2f,"ratio":$r%.2f}""" }
      .mkString(",")
    println(s"""{"metric":"scale10x","replicas":$reps,$qjson,"skew_split":$skew}""")
    spark.stop()
  }

  /** Replica-k vocabulary bijection: every word gains an alphanumeric
    * "qqK" suffix (stays one token under [^a-z0-9]+ tokenization). */
  private def perturb(text: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column) =
    when(k === 0, text).otherwise(
      array_join(transform(split(text, " "),
        w => concat(w, lit("qq"), k.cast("string"))), " "))

  private def generate(spark: SparkSession, src: String, out: String,
      reps: Int): Unit = {
    import graft.core.Fx
    val rep = spark.range(reps).select(col("id").cast("int").as("k"))

    val docs = Fx.t(spark, src, "documents").crossJoin(rep)
      .select(
        (col("doc_id") + col("k").cast("long") * 1000000L).as("doc_id"),
        perturb(col("text"), col("k")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Fx.t(spark, src, "embeddings").crossJoin(rep)
      .select(
        (col("vec_id") + col("k").cast("long") * 1000000L).as("vec_id"),
        // small deterministic per-replica jitter so replicas are near
        // but not identical in cosine space
        transform(col("embedding"), (x, i) =>
          (x + when(col("k") === 0, lit(0.0f)).otherwise(
            (pmod(xxhash64(col("vec_id"), i, col("k")), lit(17)).cast("float")
              - lit(8.0f)) / lit(100.0f))).cast("float")).as("embedding"),
        col("label"))
    emb.repartition(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val li = Fx.t(spark, src, "lineitem").crossJoin(rep)
      .withColumn("l_orderkey", col("l_orderkey") + col("k").cast("long") * 10000000L)
      .withColumn("l_partkey", col("l_partkey") + col("k").cast("long") * 20000L)
      .drop("k")
    li.repartition(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val part = Fx.t(spark, src, "part").crossJoin(rep)
      .withColumn("p_partkey", col("p_partkey") + col("k").cast("long") * 20000L)
      .drop("k")
    part.repartition(4).write.mode("overwrite").parquet(s"$out/part.parquet")

    // events: ×10 USERS (ids offset per replica), identical per-user
    // time series — session structure is preserved bit-for-bit, so
    // session/window counts scale exactly ×10 with the rows. (Fx.t
    // already normalized ts to session-zoned TimestampType, so the
    // replica fixture round-trips as plain parquet TIMESTAMP.)
    val ev = Fx.t(spark, src, "events").crossJoin(rep)
      .withColumn("event_id", col("event_id") + col("k").cast("long") * 100000000L)
      .withColumn("user_id", col("user_id") + col("k").cast("long") * 10000000L)
      .drop("k")
    ev.repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    // customer: keys offset by the SAME stride as user ids, so the
    // events⊂customer membership structure (q158's bloom probe) is
    // preserved per replica and scales ×10 with the rows
    val cust = Fx.t(spark, src, "customer").crossJoin(rep)
      .withColumn("c_custkey", col("c_custkey") + col("k").cast("long") * 10000000L)
      .drop("k")
    cust.repartition(4).write.mode("overwrite").parquet(s"$out/customer.parquet")

    // orders: orderkey stride matches lineitem's, custkey matches
    // customer's — every FK relationship (q177) and join-size
    // structure (q183) is preserved per replica; nation is a fixed
    // dimension and copies through unreplicated (c_nationkey is
    // untouched, so the FK holds)
    val ord = Fx.t(spark, src, "orders").crossJoin(rep)
      .withColumn("o_orderkey", col("o_orderkey") + col("k").cast("long") * 10000000L)
      .withColumn("o_custkey", col("o_custkey") + col("k").cast("long") * 10000000L)
      .drop("k")
    ord.repartition(8).write.mode("overwrite").parquet(s"$out/orders.parquet")
    // fixed dimensions copy through unreplicated: nation/region key
    // spaces are referenced untouched, and supplier keys match
    // lineitem's unmodified l_suppkey — every star FK holds per replica
    Seq("nation", "region", "supplier").foreach(t =>
      Fx.t(spark, src, t)
        .repartition(1).write.mode("overwrite").parquet(s"$out/$t.parquet"))
  }

  /** DedupSpec's AQE skew-split law at 10× corpus size: 800 copies of
    * one boilerplate page in 8 000 unique docs — every copy's band rows
    * land in the same (band, hash) buckets. */
  private def skewSplitEngages(spark: SparkSession): Boolean = {
    import spark.implicits._
    import graft.ext.Dedup
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
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100b")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100b")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.shuffle.partitions", "16")
      // ~10 % boilerplate — the crawl-realistic fraction — so the hot
      // (band, hash) buckets stay hot RELATIVE to the 10× background
      // median (a fixed 400-doc clique from the unit test drowns in an
      // 8 000-doc background and stops registering as skew)
      val skewed = ((0 until 800).map(i =>
        (i.toLong, "identical boilerplate paragraph shared by every copy of this page " * 2)) ++
        (800 until 8800).map(i =>
          (i.toLong, s"unique document $i with distinct words w${i * 7} w${i * 13} w${i * 31} tail")))
        .toDF("doc_id", "text")
      val sig = Dedup.minhashSignature(skewed, "doc_id", "text", k = 16)
      val cand = Dedup.lshCandidates(sig, "doc_id", k = 16, bands = 4)
      val n = cand.collect().length
      val planStr = cand.queryExecution.executedPlan.toString
      val split = planStr.contains("skew=true")
      println(s"[scale10x] skew check: candidates=$n (need >= ${800 * 799 / 2}), " +
        s"plan skew=true: $split")
      n >= 800 * 799 / 2 && split
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }
}
