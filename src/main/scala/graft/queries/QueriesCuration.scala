package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}
import graft.operators.AsOfJoin
import graft.streaming.Streams

import graft.QueryHelpers._

/** Curation tier (q61-q160): LLM-data dedup/quality/tokenizer/sampling
  * pipelines, sketches, joins, time travel, incremental maintenance.
  * One `queries` entry per operator, one `oracleSql` ANSI-SQL twin per
  * oracle-expressible entry; merged into the gate by [[SparkEntry]]. */
private[graft] object QueriesCuration {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LSH RECALL/PRECISION audit: banding quality against the
    // exhaustive exact-Jaccard ground truth (q194's calibration
    // audits the estimator; this audits the candidate generator).
    // The fixture corpus IS the eval sample — at crawl scale the
    // operator contract is a deterministic sample (see its scaladoc).
    "q302_lsh_recall" -> ((s, d) =>
      Dedup.lshRecallAudit(docsSpread(s, d),
        "doc_id", "text", threshold = 0.5, k = 16, bands = 4,
        shingleN = 3, portable = true)),

    // ANN RECALL audit: recall@10 of the PQ/ADC index against the
    // brute-force ground truth, per query — the eval every index
    // deployment runs; both sides individually gated (q49, q84).
    "q296_ann_recall" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      val pq = Similarity.pqSearch(enc, "vec_id", books, queries,
        "vec_id", "embedding", k = 10)
      Similarity.rankedOverlap(brute, pq, "query_id", "nn_id", k = 10)
        .orderBy(col("query_id"))
    }),

    // CO-OCCURRENCE LIFT: top token pairs by doc-level support with
    // exact lift ppm — df-gated [5, 80%], ≤24 kept tokens per doc
    // (the fixture vocabulary is 31 near-universal tokens; a crawl
    // corpus would gate at ~30%).
    "q285_cooccur_lift" -> ((s, d) =>
      graft.ext.TextOps.cooccurLift(docsSpread(s, d), "doc_id", "text",
        minDf = 5L, maxDfPpm = 800000L, maxPerDoc = 24, minPair = 3L,
        topK = 50)),

    // WEAK-SUPERVISION majority vote over three deterministic
    // labeling functions (short doc / no English stopwords / heavy
    // digit share → flag; the obverse thresholds → clear; else
    // abstain). Ties and all-abstain read NULL.
    "q289_label_vote" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      val en = array(TextOps.LangStopwords("en").map(lit): _*)
      val hits = size(filter(toks, t => array_contains(en, t)))
      val digits = size(filter(toks, t => t.rlike("^[0-9]+$")))
      val lfs = docsSpread(s, d).select(col("doc_id"),
        when(col("n_chars") < 200L, 1L)
          .when(col("n_chars") > 1000L, 0L)
          .otherwise(lit(null).cast("long")).as("lf_short"),
        when(hits === 0, 1L).when(hits >= 5, 0L)
          .otherwise(lit(null).cast("long")).as("lf_nostop"),
        when(size(toks) > 0 && digits * 5 > size(toks), 1L)
          .when(digits === 0, 0L)
          .otherwise(lit(null).cast("long")).as("lf_digits"))
      graft.ext.TextOps.labelVote(lfs,
        Seq("lf_short", "lf_nostop", "lf_digits"))
        .orderBy(col("doc_id"))
    }),


    // RECORD LINKAGE end to end: a dirty directory (customer names +
    // a deterministic 1-char-corrupted variant for every 3rd record)
    // blocked on the name tail, verified by banded Levenshtein <= 1,
    // clustered transitively, canonicalized to the min id — clusters
    // also bridge DISTINCT customers whose names collide in the block
    // at distance 1 (…004999 vs …014999), so the closure is doing
    // real work. The oracle replays block+verify with DuckDB's
    // levenshtein and the closure with the q83 recursive CTE.
    "q311_record_linkage" -> ((s, d) => {
      val cust = T(s, d, "customer")
      val dirty = cust.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") + 1000000L).as("id"),
          concat(substring(col("c_name"), 1, 10), lit("X"),
            substring(col("c_name"), 12, 9)).as("name"))
      val recs = cust.select(col("c_custkey").as("id"),
        col("c_name").as("name")).unionByName(dirty)
      graft.ext.Dedup.linkRecords(recs, "id", "name", maxDistance = 1,
          v => substring(v, 15, 4))
        .orderBy(col("id"))
    }),

    "q64_sql_q6" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q6Sql) }),
    "q65_sql_q12" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q12Sql) }),
    "q66_sql_q14" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q14Sql) }),
    "q70_sql_exists" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, ExistsSql) }),
    "q71_sql_custdist" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, CustDistSql) }),
    "q72_sql_having_global" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, HavingGlobalSql) }),
    "q73_sql_not_exists" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, NotExistsSql) }),

    // Deterministic PORTABLE sketches (ext.Sketches): unlike the
    // native HLL/GK sketches above (opaque state ⇒ rows-only), these
    // estimators are pure functions of (seed, data), so the oracle
    // replays them — an oracle-VERIFIED approximate aggregate.
    "q76_kmv_distinct" -> ((s, d) =>
      graft.ext.Sketches.kmvDistinctCount(
        T(s, d, "lineitem"), "l_returnflag", "l_orderkey", k = 256)
        .orderBy(col("l_returnflag"))),

    // KMV MERGE contract — the third mergeable-summary class
    // (bounded-set merge, after HLL max q152 and count-min sum q155):
    // per-shard k-minimum sets concatenated, deduped, re-cut at k
    // estimate exactly like the direct sketch.
    "q157_kmv_merge" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val sa = graft.ext.Sketches.kmvMinSets(
        li.filter(col("l_orderkey") % 2 === 0), "l_returnflag",
        "l_orderkey", k = 256)
      val sb = graft.ext.Sketches.kmvMinSets(
        li.filter(col("l_orderkey") % 2 =!= 0), "l_returnflag",
        "l_orderkey", k = 256)
      graft.ext.Sketches.kmvEstimateFromSets(
        graft.ext.Sketches.kmvMergeSets("l_returnflag", 256, sa, sb),
        "l_returnflag", 256)
        .orderBy(col("l_returnflag"))
    }),

    "q77_sampled_median" -> ((s, d) =>
      graft.ext.Sketches.sampledQuantile(
        T(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
        keyCol = "l_orderkey", q = 0.5, fraction = 0.1)
        .orderBy(col("l_returnflag"))),

    // Portable HLL (integer-exact registers + estimator, ext.Sketches
    // scaladoc has the scheme) — q59's native approx_count_distinct
    // with the opacity removed: the oracle replays bucket/ρ/register
    // max/harmonic sum/α-division/linear-counting and hash-matches.
    "q91_hll_distinct" -> ((s, d) =>
      graft.ext.Sketches.hllDistinctCount(
        T(s, d, "lineitem"), "l_returnflag", "l_orderkey")
        .orderBy(col("l_returnflag"))),

    // HLL MERGE contract: sketch two disjoint shards independently,
    // merge the register frames (max per bucket — the lossless HLL
    // merge law), estimate from the merged state. The oracle is q91's
    // DIRECT union sketch: merged == direct, register for register —
    // the mergeable-summary property that lets per-day/per-shard
    // sketches roll up into global stats with no re-scan.
    "q152_hll_merge" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val ra = graft.ext.Sketches.hllRegisters(
        li.filter(col("l_orderkey") % 2 === 0), "l_returnflag", "l_orderkey")
      val rb = graft.ext.Sketches.hllRegisters(
        li.filter(col("l_orderkey") % 2 =!= 0), "l_returnflag", "l_orderkey")
      graft.ext.Sketches.hllFromRegisters(
        graft.ext.Sketches.hllMergeRegisters("l_returnflag", ra, rb),
        "l_returnflag")
        .orderBy(col("l_returnflag"))
    }),

    // Pivot (long→wide conditional aggregation), explicit value list so
    // the plan needs no extra distinct-values pass.
    "q78_pivot" -> ((s, d) =>
      T(s, d, "orders").groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))),

    // Unpivot (wide→long, the inverse of q78's pivot): four measure
    // columns melt to (metric, value) rows, then a decimal-exact
    // per-flag/metric sum. The oracle is the equivalent UNION ALL.
    "q93_unpivot" -> ((s, d) =>
      T(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(dsum(col("value")).as("total"))
        .orderBy(col("l_returnflag"), col("metric"))),

    // Ordered string aggregation (LISTAGG/STRING_AGG): deterministic
    // via sort_array over the collected list — binary collation on
    // both engines, so the joined string hash-matches.
    "q94_string_agg" -> ((s, d) =>
      T(s, d, "nation").join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name"))),

    // Distribution window functions: ntile buckets, percent_rank,
    // cume_dist (total order via the unique key suffix — peer groups
    // and therefore the distributions are engine-identical).
    "q79_window_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      T(s, d, "lineitem").filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // TYPED nested JSON decode (SURVEY §1.2's sobject mapping —
    // reference salesforce/main.py:156-182): `from_json` into a nested
    // StructType with an ARRAY OF STRUCT, then typed field access
    // (doc.meta.user, readings[i].v) — the path q34's flat string
    // extraction doesn't exercise. The nested document is assembled
    // from fixture columns (integral values only, so the literal JSON
    // text is engine-identical) and re-parsed; the oracle decodes the
    // same documents with DuckDB's JSON path functions.
    "q80_nested_json" -> ((s, d) => {
      val doc = concat(
        lit("{\"meta\":{\"user\":"), col("user_id"),
        lit(",\"type\":\""), col("event_type"),
        lit("\"},\"readings\":[{\"dim\":\"val\",\"v\":"),
        floor(col("value")).cast("long"),
        lit("},{\"dim\":\"k\",\"v\":"),
        get_json_object(col("props"), "$.k").cast("long"),
        lit("}]}"))
      val schema = "meta STRUCT<user: BIGINT, type: STRING>, " +
        "readings ARRAY<STRUCT<dim: STRING, v: BIGINT>>"
      T(s, d, "events")
        .select(col("event_id"), from_json(doc,
          org.apache.spark.sql.types.StructType.fromDDL(schema)).as("doc"))
        .select(col("event_id"),
          col("doc.meta.user").as("user_id"),
          col("doc.meta.type").as("etype"),
          element_at(col("doc.readings"), 1).getField("v").as("v0"),
          element_at(col("doc.readings"), 2).getField("v").as("v1"),
          size(col("doc.readings")).cast("long").as("n_readings"))
        .orderBy(col("event_id"))
    }),

    // Catalog surface (D1/D3/D4/D6/D7/D10) as ONE oracle-checked
    // frame: build a fresh store, create tables, evolve one via raw
    // ALTER, store a persistent view, then emit every catalog fact as
    // (kind, name) rows. The expected state is static, so the oracle
    // is a literal VALUES table — the row set verifies liveness,
    // existence, column listing post-evolution, table and view
    // catalogs, and the empty-table count.
    "q90_catalog_ops" -> ((s, d) => {
      import s.implicits._
      import graft.core.ColumnSpec
      import org.apache.spark.sql.types.{LongType, StringType}
      val rootPath = java.nio.file.Files.createTempDirectory("graft-cat")
      val db = new graft.Database(s, rootPath.toString)
      db.createTable("t1", Seq(ColumnSpec("id", LongType), ColumnSpec("v", StringType)),
        primaryKey = Seq("id"))
      db.createTable("t2", Seq(ColumnSpec("k", LongType)))
      db.executeRaw("ALTER TABLE t1 ADD COLUMN quality DOUBLE")
      db.createView("v_all", "SELECT * FROM t1")
      db.createView("v_tmp", "SELECT id FROM t1")
      db.dropView("v_tmp")                     // must vanish from the catalog
      val viewRows = db.getView("v_all").count() // D7 resolution: replans stored SQL
      val ours = Set("v_all", "v_tmp")
      val rows =
        Seq(("alive", db.isAlive.toString),
          ("exists:t1", db.checkTableExists("t1").toString),
          ("exists:nope", db.checkTableExists("nope").toString),
          ("count:t1", db.getTableCount("t1").toString),
          ("view_rows:v_all", viewRows.toString)) ++
        db.getTables.map(("table", _)) ++
        db.getTableColumns("t1").map(("column:t1", _)) ++
        db.getViews.filter(ours).map(("view", _))
      // every fact above is a driver-side value, so the frame is a
      // LocalRelation with no file dependency — the temp store can be
      // deleted NOW instead of leaking a directory per invocation.
      // getView registered t1/t2 as session temp views pointing into
      // the store; drop them BEFORE the delete or later raw SQL that
      // happens to name them fails on the missing path.
      val out = rows.toDF("kind", "name").orderBy(col("kind"), col("name"))
      Seq("t1", "t2", "v_all", "v_tmp").foreach(s.catalog.dropTempView(_))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(rootPath)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }),

    // Bucketed join (storage-layout operator): both sides pre-shuffled
    // into 8 buckets on the join key at WRITE time, so the join itself
    // plans with no exchange on either side (the "stop shuffling
    // 100 TB every night" answer; plan-locked in PlanShapeSpec). The
    // oracle runs the equivalent plain join.
    "q89_bucketed_join" -> ((s, d) => {
      import graft.core.Bucketing
      Bucketing.writeBucketed(
        T(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "bk_customer", "c_custkey", 8, Seq("c_custkey"))
      Bucketing.writeBucketed(
        T(s, d, "orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
        "bk_orders", "c_custkey", 8, Seq("c_custkey"))
      Bucketing.bucketedJoin(s, "bk_customer", "bk_orders", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // Z-order layout (core.Layout): quantize (user_id, event_id) to
    // 16-bit cells, interleave to the Morton z-value, and emit the
    // curve position per event — the clustering key a multi-dim
    // range-pruning layout sorts by (ZorderSpec verifies the actual
    // per-file box-narrowing; this query pins the bit-interleave
    // arithmetic cross-engine).
    "q92_zorder" -> ((s, d) => {
      import graft.core.Layout
      val e = T(s, d, "events").filter(col("event_id") <= 2000)
      e.select(col("event_id"),
          Layout.zValue(16,
            Layout.rangeBucket(col("user_id"), 0L, 9999L, 16),
            Layout.rangeBucket(col("event_id"), 0L, 65535L, 16)).as("z"))
        .orderBy(col("event_id"))
    }),

    // FORWARD as-of: each event attaches the same user's NEXT error
    // event (smallest err_ts ≥ ts) — the time-to-next-failure shape.
    // Right side deduped on (user, ts) first (as-of is ill-defined
    // under right ties). Inclusive at equal ts, like DuckDB ASOF <=.
    "q88_asof_forward" -> ((s, d) => {
      val e = T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val errs = T(s, d, "events").filter(col("event_type") === "error")
        .groupBy(col("user_id").as("err_user"), col("ts").as("err_ts"))
        .agg(min(col("event_id")).as("err_id"))
      AsOfJoin.forward(e, "user_id", "ts", errs, "err_user", "err_ts")
        .select(col("event_id"), col("user_id"), col("err_id"), col("err_ts"))
        .orderBy(col("event_id"))
    }),

    // Composite enrichment: as-of order attach + JSON prop + running
    // per-user count — three operators composing in ONE plan.
    "q67_event_enrichment" -> ((s, d) => {
      val e = T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val o = T(s, d, "orders").groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      AsOfJoin.backward(e, "user_id", "ts", o, "o_custkey", "o_orderdate")
        .withColumn("running_events", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("k"),
          col("o_orderkey"), col("running_events"))
        .orderBy(col("event_id"))
    }),

    // ----------------------------------------------------- streaming (batch twins)
    // Pure range join (no equi key) via binning: the interval side
    // explodes into the bins it overlaps, turning the theta-join into
    // an equi-join on bin id + residual filter — never a cross
    // product. Points = lineitem ship days, intervals = 30-day windows
    // from order dates; the oracle runs the same theta-join directly.
    "q86_range_join" -> ((s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val p = T(s, d, "lineitem").filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), epoch).cast("long").as("pd"))
      val iv = T(s, d, "orders").filter(col("o_orderkey") < 40)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 30)
      graft.operators.RangeJoin.binned(p, "pd", iv, "lo", "hi", binWidth = 16L)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderkey"),
          col("pd"), col("lo"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("o_orderkey"))
    }),

    // Sliding (hopping) windows — each event lands in length/slide
    // overlapping windows; same code runs under readStream with a
    // watermark. The oracle regenerates the 1970-aligned window starts
    // with microsecond integer arithmetic.
    "q87_sliding_window" -> ((s, d) =>
      T(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))),

    // Per-doc top distinguishing terms — log-free tf-idf (score =
    // tf·(N+1)/(df+1): one correctly-rounded division + one multiply,
    // so even the SCORES hash-match cross-engine; ln would not).
    "q85_top_terms" -> ((s, d) =>
      TextOps.topTerms(T(s, d, "documents"), "doc_id", "text", topK = 3)
        .orderBy(col("doc_id"), col("term"))),

    // Winnowing fingerprints — local-similarity dedup (shared
    // passages), complementing the whole-doc and set-similarity
    // schemes. Portable-hash mode: the DuckDB oracle replays k-gram
    // hashing, the sliding-window min, and the shared-count join.
    "q61_winnowing_neardup" -> ((s, d) =>
      Dedup.winnowingNearDups(T(s, d, "documents"), "doc_id", "text",
        k = 5, window = 4, minShared = 3, portable = true)
        .orderBy(col("a"), col("b"))),

    // Pairwise near-dup evidence → dedup CLUSTERS: connected
    // components over the winnowing pairs (min reachable doc_id labels
    // each cluster). The oracle replays the fixpoint with a
    // recursive-CTE transitive closure over the same pair list. The
    // returned frame is persisted by contract (recomputing it would
    // replay the whole label-propagation loop); the harnesses release
    // it via their per-query spark.catalog.clearCache().
    "q83_dedup_clusters" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.winnowingNearDups(docs, "doc_id", "text",
        k = 5, window = 4, minShared = 3, portable = true)
      Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id",
        pairs, "a", "b")
        .orderBy(col("doc_id"))
    }),

    // SemDeDup (ext.Dedup.semanticNearDups): k-means-bucketed exact
    // cosine pairs. At nCentroids = 1 every pair is within-cluster, so
    // the WHOLE machinery (bounded-sample k-means build, broadcast
    // assignment, centroid equi-join, normalized-dot cosine, threshold)
    // gates against an all-pairs SQL replay; the clustered path
    // (nCentroids > 1) is spec-covered by a recall bar in DedupSpec.
    "q112_semantic_dedup" -> ((s, d) =>
      Dedup.semanticNearDups(T(s, d, "embeddings").filter(col("vec_id") < 500),
        "vec_id", "embedding", threshold = 0.4, nCentroids = 1)
        .orderBy(col("a"), col("b"))),

    // Hashed-n-gram linear quality classifier (TextOps.linearModelScore)
    // — fastText/CCNet-style model-as-broadcast-data scoring. The
    // md5-derived synthetic weight table is re-derived by the oracle;
    // integer weight sums divide ONCE at the end, so the double scores
    // hash-match cross-engine (the q85 log-free recipe).
    "q113_classifier_score" -> ((s, d) =>
      TextOps.linearModelScore(docsSpread(s, d), "doc_id", "text",
        TextOps.syntheticWeights(s, buckets = 64), buckets = 64)
        .orderBy(col("doc_id"))),

    // Duplicated-span detection (ext.Dedup.duplicatedSpans): Lee
    // et al.-style exact substring dedup — maximal token spans whose
    // 8-gram runs appear in ≥ 2 distinct docs (portable gram hashes;
    // the oracle replays the window/island arithmetic on integers).
    "q114_dup_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(docsSpread(s, d), "doc_id", "text",
        gramLen = 8, minDocs = 2, portable = true)
        .orderBy(col("doc_id"), col("span_start"))),

    // Removal half of the Lee et al. recipe: q114's spans excised,
    // text rebuilt from the ordered surviving tokens.
    "q115_span_removal" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val spans = Dedup.duplicatedSpans(docs, "doc_id", "text",
        gramLen = 8, minDocs = 2, portable = true)
      Dedup.removeDuplicatedSpans(docs, spans, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Classifier TRAINING sufficient statistics
    // (TextOps.trainFeatureCounts): per-bucket class feature counts
    // from a labeled corpus — the pure-integer half of
    // trainLogOddsWeights, replayed exactly by the oracle (the ln →
    // weight step is model data, spec-covered in TextOpsSpec). Labels
    // here: even doc_id = positive class.
    "q116_train_counts" -> ((s, d) =>
      TextOps.trainFeatureCounts(
        docsSpread(s, d).withColumn("label", col("doc_id") % 2 === 0),
        "doc_id", "text", "label", buckets = 64)
        .orderBy(col("bucket"))),

    // Perplexity-style LM filtering (TextOps.lmScore) — CCNet's other
    // filter: per-doc mean bigram milli-log-prob under a hashed-vocab
    // bigram LM shipped as broadcast model data. The md5-derived
    // synthetic LM table is re-derived by the oracle; integer weight
    // sums divide ONCE at the end (the q113 recipe), so the double
    // scores hash-match cross-engine. Trained-LM behavior is
    // spec-covered (TextOpsSpec).
    "q117_lm_score" -> ((s, d) =>
      TextOps.lmScore(docsSpread(s, d), "doc_id", "text",
        TextOps.syntheticLmWeights(s, buckets = 64), buckets = 64)
        .orderBy(col("doc_id"))),

    // LM TRAINING sufficient statistics (TextOps.bigramLmCounts):
    // hashed bigram counts over the corpus — pure integers, replayed
    // exactly (the ln → weight step of trainBigramLm is model data).
    "q118_lm_counts" -> ((s, d) =>
      TextOps.bigramLmCounts(docsSpread(s, d), "doc_id", "text",
        buckets = 64)
        .orderBy(col("ctx"), col("tok"))),

    // Paragraph-level dedup (ext.Dedup.duplicatedParagraphs — the
    // Dolma/RefinedWeb granularity): md5 + document frequency of every
    // non-blank line occurring in ≥ 2 distinct docs. The fixture
    // bodies carry no newlines, so the multi-line corpus is derived
    // arithmetically (shared header on every doc, promo footer on
    // every third, unique tail elsewhere) — identically in both
    // engines; planted exact-dup bodies become hot paragraphs too.
    "q119_dup_paragraphs" -> ((s, d) =>
      Dedup.duplicatedParagraphs(docsMultiline(s, d), "doc_id", "text",
        minDocs = 2)
        .orderBy(col("para_hash"))),

    // Removal half: hot paragraphs dropped, text rebuilt as the
    // ordered newline-joined survivors; every doc keeps a row.
    "q120_paragraph_removal" -> ((s, d) =>
      Dedup.removeDuplicatedParagraphs(docsMultiline(s, d), "doc_id",
        "text", minDocs = 2)
        .orderBy(col("doc_id"))),

    // BPE training sufficient statistics (TextOps.bpePairCounts):
    // word-frequency-weighted adjacent character-pair counts — the
    // integer table the first merge decision reads, replayed exactly
    // (the greedy merge loop of trainBpeMerges runs on the bounded
    // word dictionary and is model data, spec-covered in BpeSpec —
    // the q116/q118 trainer-gating recipe).
    "q121_bpe_pair_counts" -> ((s, d) =>
      TextOps.bpePairCounts(docsSpread(s, d), "text")
        .orderBy(col("pair"))),

    // BPE ENCODE under a fixed merge list (model-as-literal, like
    // q113's weights): the no-UDF replace-chain encoder's symbol and
    // distinct-symbol counts per doc, replayed with the identical
    // replace chain in SQL. Trained-merge behavior is spec-covered.
    "q122_bpe_encode" -> ((s, d) =>
      docsSpread(s, d).select(col("doc_id"),
        TextOps.bpeTokenCount(col("text"), BpeContractMerges).as("n_bpe"),
        size(array_distinct(TextOps.bpeSymbols(col("text"), BpeContractMerges)))
          .cast("long").as("n_types"))
        .orderBy(col("doc_id"))),

    // Session windows via the STREAMING operator run in batch mode —
    // gates sessionAgg (session_window) itself, complementing q38's
    // gaps-and-islands twin: >= boundary semantics (an event exactly
    // `gap` after the previous starts a NEW session) and the
    // last_ts + gap session end. sum_value is excluded from the
    // projection (double summation order is engine-dependent);
    // bounds + counts are exact.
    "q123_session_window" -> ((s, d) =>
      Streams.sessionAgg(T(s, d, "events"), "ts", "30 minutes")
        .select(col("user_id"), col("session_start"), col("session_end"), col("n"))
        .orderBy(col("user_id"), col("session_start"))),

    // Gopher/MassiveText quality rules (Rae et al. 2021, §A1.1): all
    // counters are codegen'd regex/length arithmetic (TextOps
    // .gopherQuality); the oracle replays them with
    // regexp_extract_all counts and list lambdas.
    "q124_gopher_quality" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"), TextOps.gopherQuality(col("text")).as("g"))
        .select(col("doc_id"),
          col("g.word_count").as("word_count"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.bullet_ratio").as("bullet_ratio"),
          col("g.ellipsis_ratio").as("ellipsis_ratio"),
          col("g.alpha_ratio").as("alpha_ratio"),
          col("g.required_hits").as("required_hits"),
          col("g.pass").as("pass"))
        .orderBy(col("doc_id"))),

    // Quality-aware near-dup removal: winnowing pairs → connected
    // components → keep the HIGHEST-quality doc per cluster (ties →
    // min id) — the production keeper rule (best copy survives, not
    // an arbitrary one). Oracle = the q83 recursive-CTE closure + the
    // q42 quality expression + a row_number keeper pick.
    "q125_keep_best_dedup" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.winnowingNearDups(docs, "doc_id", "text",
        k = 5, window = 4, minShared = 3, portable = true)
      Dedup.removeNearDuplicatesKeepBest(docs, "doc_id",
        TextOps.qualityScore(col("text")), pairs, "a", "b")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Product quantization — the third ANN tier (brute → IVF → PQ):
    // 4-bit-per-subspace codes (~64× smaller than the double vectors),
    // ADC search = m table lookups per candidate. Seeded codebooks
    // (the portable twin of pqTrainBooks' k-means) make the WHOLE
    // pipeline a pure function of (seed, data) — the oracle replays
    // encode, the per-query ADC tables, and the top-k in SQL.
    "q84_ann_pq" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      Similarity.pqSearch(enc, "vec_id", books, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
        // the two engines' 8-element literal-codeword dots can differ
        // in the last ulp (~1e-16); ranks are separated by ~1e-3, so
        // order is stable — emit the score at a 4-decimal tolerance
        .withColumn("adc", round(col("adc"), 4))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ — the composed production recipe (bucket probe + ADC
    // shortlist + exact rerank). At FULL probe (nprobe = C) and a
    // corpus-sized shortlist the rerank is exact cosine over the whole
    // corpus, so the entire composition — k-means build, assignment,
    // PQ encode, probe join, ADC tables, two bounded top-k stages,
    // rerank — gates against the same oracle as q49. The approximate
    // path (nprobe < C, bounded shortlist) is spec-covered by a
    // recall@10 bar in SimilaritySpec.
    "q110_ann_ivfpq" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val idx = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
        nCentroids = 16, books)
      val out = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nprobe = 16, shortlist = emb.count().toInt)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
      out
    }),

    // INDEX-AS-TABLE (r15, r14 verdict item 6): the IVF-PQ index
    // persists as versioned TableStore snapshots (saveIvfPq → one
    // version of <name>_{encoded,centroids,books} per call), so a
    // training run can TIME-TRAVEL to the exact codebook + encoding
    // it searched with — q110's operator composed with q145's store.
    // The fixture: build on the full corpus (v0), RETRAIN on a
    // drifted corpus (odd ids only → v1, the current index), then
    // load version 0 and search it at full probe + corpus shortlist —
    // the result must hash-match the SAME exact-cosine oracle as
    // q110/q49, proving the persisted v0 codebook replays identically
    // after the index moved on (versions resolve through the r16
    // group-commit MANIFEST — version N = the Nth save's triple).
    // That the drift is real is asserted
    // in-body: the CURRENT index must encode no even id (a violation
    // throws and fails the gate loudly). Results freeze driver-side
    // (5 queries × k = 50 rows) before the temp store deletes — the
    // q145 recipe.
    "q338_ivfpq_index_table" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val v0 = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(v0, store, "ann") // v0 of each index table
        v0.unpersist()
        // the drifted retrain is never searched — only its encoded ids
        // are asserted — so it trains at the cheapest shape (4
        // centroids) rather than paying a second full k-means
        val drifted = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          nCentroids = 4, books)
        Similarity.saveIvfPq(drifted, store, "ann") // v1 = current
        drifted.unpersist()
        val cur = Similarity.loadIvfPq(store, "ann")
        require(cur.encoded.filter(col("__id") % 2 === 0).isEmpty,
          "q338: the CURRENT index should be the drifted (odd-id) retrain")
        val trainTime = Similarity.loadIvfPq(store, "ann", version = Some(0))
        val out = Similarity.ivfPqSearch(trainTime, emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = emb.count().toInt)
          .withColumn("rank", col("rank").cast("long"))
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        frozen.orderBy(col("query_id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // INCREMENTAL INDEX MAINTENANCE (r16, r15 verdict next-round item
    // 6): a new document batch ENCODE-APPENDS against the persisted
    // codebook + centroids — no retrain, no re-encode of the existing
    // corpus — and commits through the index-group MANIFEST (r15
    // verdict missing #2: the manifest row names the exact
    // (encoded_v, centroids_v, books_v) triple; loadIvfPq resolves
    // only through it, so a crash mid-append can never serve a
    // mixed-version index). The fixture: build on the even-id half
    // (manifest v0 = triple (0,0,0)), appendIvfPq the odd-id half —
    // then two proofs: (1) in-body, the new manifest pins (1, 0, 0),
    // i.e. the append bumped ONLY encoded_v and reuses the persisted
    // codebook verbatim; (2) the appended index searched at full
    // probe + corpus shortlist hash-matches the SAME exact-cosine
    // oracle as q110/q338 — every corpus row is present exactly once
    // and decodes against the right codebook, which is precisely the
    // "append == full re-encode" equivalence (the frame-level
    // equality is additionally spec-pinned in SimilaritySpec).
    // Results freeze driver-side (50 rows) before the temp store
    // deletes — the q145/q338 recipe.
    "q339_ivfpq_append" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val base = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(base, store, "ann") // manifest v0 = (0,0,0)
        base.unpersist()
        Similarity.appendIvfPq(store, "ann",
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        val (encV, cenV, bkV) = Similarity.ivfPqManifest(store, "ann")
        require(encV == 1 && cenV == 0 && bkV == 0,
          s"q339: append must bump ONLY encoded_v — got ($encV,$cenV,$bkV)")
        val idx = Similarity.loadIvfPq(store, "ann")
        val out = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = emb.count().toInt)
          .withColumn("rank", col("rank").cast("long"))
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        frozen.orderBy(col("query_id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // INDEX UPSERT (r17, r16 verdict item 1): a CDC/re-ingest loop
    // RE-SENDS existing ids with fresh vectors — appendIvfPq's
    // replace-by-id semantics must supersede the old encoding, never
    // double-enter the id (a duplicate would let one top-k return the
    // same nn_id twice, shrinking effective k). The fixture: build on
    // the FULL corpus (manifest v0), then re-send every odd id with
    // its vector REVERSED (a deterministic "document changed" edit).
    // Three proofs: (1) in-body, the manifest pins (1,0,0) — upsert
    // bumps only encoded_v; (2) in-body, the upserted index equals a
    // FULL RE-ENCODE of the upserted corpus under the same persisted
    // centroids+codebook — frame-level, via the operator's own
    // encodeAssign helper, both except-directions empty (this is what
    // catches a STALE row, which the full-probe search cannot: the
    // exact rerank reads true vectors, not codes); (3) the search at
    // full probe + corpus shortlist hash-matches the exact-cosine
    // oracle over the UPSERTED corpus — every id exactly once, odd
    // ids answering with their fresh vectors. Results freeze
    // driver-side (50 rows) before the temp store deletes — the
    // q145/q338 recipe.
    "q340_ivfpq_upsert" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val base = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(base, store, "ann") // manifest v0 = (0,0,0)
        base.unpersist()
        // the CDC re-send: every odd id arrives AGAIN, vector changed
        val resent = emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"),
            reverse(col("embedding").cast("array<double>")).as("embedding"))
        Similarity.appendIvfPq(store, "ann", resent, "vec_id", "embedding")
        val (encV, cenV, bkV) = Similarity.ivfPqManifest(store, "ann")
        require(encV == 1 && cenV == 0 && bkV == 0,
          s"q340: upsert must bump ONLY encoded_v — got ($encV,$cenV,$bkV)")
        val idx = Similarity.loadIvfPq(store, "ann")
        val upserted = emb.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
          .union(resent)
        // persisted + one action (r17): both except directions read
        // `expected` (a corpus-encode aggregate) — unpersisted, two
        // separate isEmpty jobs ran the encode twice; the union of the
        // two residual frames is empty iff both directions are
        val expected = Similarity.encodeAssign(upserted, "vec_id",
          "embedding", idx.centroids, idx.books)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        require(expected.exceptAll(idx.encoded)
          .union(idx.encoded.exceptAll(expected)).isEmpty,
          "q340: upserted index must equal a full re-encode of the " +
            "upserted corpus under the same codebook (stale or " +
            "duplicate rows present)")
        val out = Similarity.ivfPqSearch(idx, upserted, "vec_id", "embedding",
          upserted.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = emb.count().toInt)
          .withColumn("rank", col("rank").cast("long"))
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        frozen.orderBy(col("query_id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // INDEX ERASURE (r17, r16 verdict item 2 — the GDPR story for
    // DERIVED data): scrubbing the source table while the user's
    // vector stays searchable at manifest v0 erases nothing, so
    // forgetFromIvfPq applies the store's forgetWhere discipline
    // (q207) to the index group: the matching encoded rows are
    // physically excised from EVERY committed <name>_encoded version
    // in place — history shape preserved — and a fresh manifest (same
    // triple) commits as the erasure's audit mark. The fixture:
    // even-id build (v0), odd-id append (v1), then forget every
    // id ≡ 0 (mod 5). In-body proofs: the removed-row count matches
    // the closed form; NO encoded version retains a forgotten id (so
    // no search at ANY manifest version can return one — candidates
    // come only from the encoded table); encoded history keeps
    // versions {0,1} and the manifest grew to {0,1,2} with the triple
    // unchanged. The search at full probe + corpus shortlist then
    // hash-matches the exact-cosine oracle over the SURVIVING corpus
    // — forgotten ids absent, everything else answering normally
    // (query 0 still queries: erasure removes the document from the
    // corpus, not the caller's probe). Results freeze driver-side
    // (50 rows) before the temp store deletes.
    "q341_ivfpq_forget" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val base = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(base, store, "ann") // manifest v0
        base.unpersist()
        Similarity.appendIvfPq(store, "ann",
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
        val removed = Similarity.forgetFromIvfPq(store, "ann",
          col("__id") % 5 === 0)
        val n5 = emb.filter(col("vec_id") % 5 === 0).count()
        val n10 = emb.filter(col("vec_id") % 10 === 0).count()
        require(removed == n5 + n10,
          s"q341: expected ${n5 + n10} rows excised across the two " +
            s"encoded versions (even-only v0 + full v1), got $removed")
        store.versions("ann_encoded").foreach { v =>
          require(store.readVersion("ann_encoded", v)
            .filter(col("__id") % 5 === 0).isEmpty,
            s"q341: encoded v$v still serves a forgotten id")
        }
        require(store.versions("ann_encoded") == Seq(0, 1) &&
          store.versions("ann_manifest") == Seq(0, 1, 2),
          "q341: erasure must preserve history shape and commit one " +
            "manifest audit mark")
        require(Similarity.ivfPqManifest(store, "ann") == ((1, 0, 0)),
          "q341: the erasure rewrites snapshots in place — the triple " +
            "must not move")
        val idx = Similarity.loadIvfPq(store, "ann")
        val out = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = emb.count().toInt)
          .withColumn("rank", col("rank").cast("long"))
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        frozen.orderBy(col("query_id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // RECALL-DRIFT monitor (r17, r16 verdict item 3): appends assign
    // new vectors to the ORIGINAL centroids, so on a drifting corpus
    // the partition quality — and IVF recall at fixed nprobe —
    // silently decays; ivfPqRecallDrift prices "retrain yet?" as a
    // per-manifest-version recall@k probe vs brute-force ground truth
    // on the newest indexed ids, with a threshold verdict. The
    // fixture manufactures the drift deterministically from the
    // embeddings table: v0 is a CLUSTERED corpus (near-duplicate
    // pairs tucked well inside 8 anchor cells — within-pair neighbors
    // co-assign under any reasonable k-means, so v0 recall@2 at
    // nprobe=1 is ~1), then the appended batch is pairs sitting ON
    // the midline BETWEEN two anchors, where each member's bucket
    // flips on its own noise — the canonical boundary-straddling
    // drift that fixed centroids cannot represent, so vN recall
    // drops and the verdict flips to 'retrain'. The gate pins the
    // monitor's STRUCTURAL facts (probe rows: version count, eval
    // sizes, verdicts, monotone recall) — the recall magnitudes are
    // data-dependent per SF and belong to SimilaritySpec, not a
    // literal oracle.
    "q342_ivfpq_recall_drift" -> ((s, d) => {
      import s.implicits._
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val n = emb.count()
        val ev = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e"))
        val an = ev.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("int").as("c"),
            Similarity.l2Normalize(col("e")).as("a"))
        val x = ev.filter(col("vec_id") % 2 === 0)
          .select((col("vec_id") / 2).cast("long").as("m"), col("e").as("x"))
        val y = ev.filter(col("vec_id") % 2 === 1)
          .select(((col("vec_id") - 1) / 2).cast("long").as("m"), col("e").as("y"))
        val pairs = x.join(y, Seq("m"))
        // v0: pair 2m/2m+1 = anchor(m%8) + 0.25·noise (+ 0.02·tiebreak)
        val p0 = pairs.withColumn("c", (col("m") % 8).cast("int"))
          .join(broadcast(an), Seq("c"))
          .withColumn("b", zip_with(col("a"), col("x"), (av, xv) => av + xv * 0.25))
        // persisted (r17): the fixture frames feed the build, the
        // append, AND the monitor's per-version corpus joins (~4 scans
        // per manifest version) — unpersisted, the anchor-join +
        // zip_with construction replays on every pass (measured: the
        // single largest slice of q342's 19.5 s baseline)
        val base = p0.select((col("m") * 2).as("vec_id"), col("b").as("embedding"))
          .union(p0.select((col("m") * 2 + 1).as("vec_id"),
            zip_with(col("b"), col("y"), (bv, yv) => bv + yv * 0.02).as("embedding")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // drift: 64 pairs ON the midline between anchors c1 and c2 —
        // each member's bucket decided by its OWN 0.3·noise tilt
        val dp = pairs.filter(col("m") < 64)
          .withColumn("c1", (col("m") % 8).cast("int"))
          .withColumn("c2", ((col("m") + 3) % 8).cast("int"))
          .join(broadcast(an.select(col("c").as("c1"), col("a").as("a1"))), Seq("c1"))
          .join(broadcast(an.select(col("c").as("c2"), col("a").as("a2"))), Seq("c2"))
          .withColumn("mid", zip_with(col("a1"), col("a2"), (p, q) => p + q))
        val drift = dp.select((lit(n) + col("m") * 2).as("vec_id"),
            zip_with(col("mid"), col("x"), (bv, xv) => bv + xv * 0.3).as("embedding"))
          .union(dp.select((lit(n) + col("m") * 2 + 1).as("vec_id"),
            zip_with(col("mid"), col("y"), (bv, yv) => bv + yv * 0.3).as("embedding")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val idx = Similarity.ivfPqBuild(base, "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(idx, store, "ann") // manifest v0
        idx.unpersist()
        Similarity.appendIvfPq(store, "ann", drift, "vec_id", "embedding")
        val monitor = Similarity.ivfPqRecallDrift(store, "ann",
          base.union(drift), "vec_id", "embedding",
          k = 2, nprobe = 1, nEval = 50, thresholdPpm = 900000L,
          shortlist = 400)
        val rows = monitor.orderBy(col("manifest_v")).collect()
        require(rows.length == 2, s"q342: expected 2 manifest versions, got ${rows.length}")
        val (r0, r1) = (rows(0), rows(1))
        Seq(
          ("n_versions", "2"),
          ("threshold_ppm", "900000"),
          ("v0_n_eval", r0.getLong(1).toString),
          ("v0_recall_ge_v1", (r0.getLong(2) >= r1.getLong(2)).toString),
          ("v0_verdict", r0.getString(3)),
          ("v1_n_eval", r1.getLong(1).toString),
          ("v1_verdict", r1.getString(3)))
          .toDF("probe", "value").orderBy(col("probe"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // STREAMING index maintenance under AT-LEAST-ONCE replay (r17,
    // r16 verdict item 5 — the q260 pattern applied to
    // Streams.indexIngest): three micro-batches drive
    // indexIngestBatch — the EXACT foreachBatch body — with batch 0
    // deliberately delivered TWICE (foreachBatch redelivery after
    // failure recovery). The <name>_ingest_hwm high-water mark makes
    // the replay a FULL no-op: the final index is bit-identical —
    // content AND version history — to the one-shot ingest (in-body:
    // manifest versions {0,1,2}, triple (2,0,0), hwm 1; a replayed
    // append without the guard would have burned manifest v3). The
    // search at full probe + corpus shortlist then hash-matches the
    // SAME exact-cosine oracle as q339 — every id exactly once.
    // Results freeze driver-side (50 rows) before the temp store
    // deletes.
    "q343_index_ingest_replay" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val base = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(base, store, "ann") // manifest v0
        base.unpersist()
        val b1 = emb.filter(col("vec_id") % 4 === 1)
        val b2 = emb.filter(col("vec_id") % 4 === 3)
        def ingest(b: DataFrame, id: Long): Unit =
          Streams.indexIngestBatch(b, store, "ann", "vec_id", "embedding", id)
        ingest(b1, 0L)
        ingest(b1, 0L) // at-least-once redelivery of the same batch
        ingest(b2, 1L)
        require(store.versions("ann_manifest") == Seq(0, 1, 2),
          "q343: the replayed batch must not burn a manifest version")
        require(Similarity.ivfPqManifest(store, "ann") == ((2, 0, 0)),
          "q343: two applied batches, appends bumping only encoded_v")
        require(store.read("ann_ingest_hwm")
          .select(max(col("last_batch_id"))).head().getLong(0) == 1L,
          "q343: the high-water mark must sit at the last applied batch")
        val idx = Similarity.loadIvfPq(store, "ann")
        val out = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = emb.count().toInt)
          .withColumn("rank", col("rank").cast("long"))
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        frozen.orderBy(col("query_id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // INDEX VACUUM (r17): retention for the index GROUP — keep the
    // newest keepLast MANIFESTS and reclaim every member snapshot no
    // kept manifest can REACH (reachability, not age: the kept
    // triples name exactly what time travel still needs, so the
    // corpus-sized encoded snapshots roll off one per retired append
    // while the append-pinned centroids/books v0 stay). The fixture:
    // build even (manifest v0), append half the odds (v1), append the
    // rest (v2), expire keepLast=2. In-body proofs: exactly encoded
    // v0 + manifest v0 expired and NOTHING else (closed-form map
    // equality); the retired manifest fails BY NAME ("expired by
    // retention" — the store's breadcrumb discipline, never a bare
    // missing version); kept history still time-travels (v1 loads
    // and counts n − |second batch|). The search at full probe +
    // corpus shortlist then hash-matches the same exact-cosine
    // oracle as q339 — vacuum touched only unreachable history.
    // Results freeze driver-side (50 rows) before the temp store
    // deletes.
    "q344_ivfpq_vacuum" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val books = Similarity.pqSeededBooks(dim = 64, m = 8, ksub = 16, seed = 42L)
      val root = java.nio.file.Files.createTempDirectory("graft-idx")
      try {
        val store = new graft.core.TableStore(s, root.toString)
        val base = Similarity.ivfPqBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          nCentroids = 16, books)
        Similarity.saveIvfPq(base, store, "ann") // manifest v0 = (0,0,0)
        base.unpersist()
        Similarity.appendIvfPq(store, "ann",
          emb.filter(col("vec_id") % 4 === 1), "vec_id", "embedding") // v1
        Similarity.appendIvfPq(store, "ann",
          emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding") // v2
        val expired = Similarity.expireIvfPqVersions(store, "ann", keepLast = 2)
        require(expired == Map("encoded" -> Seq(0), "centroids" -> Seq(),
          "books" -> Seq(), "manifest" -> Seq(0)),
          s"q344: expected exactly encoded v0 + manifest v0 reclaimed, got $expired")
        require(store.versions("ann_encoded") == Seq(1, 2) &&
          store.versions("ann_manifest") == Seq(1, 2) &&
          store.versions("ann_centroids") == Seq(0) &&
          store.versions("ann_books") == Seq(0),
          "q344: kept history must be exactly the reachable set")
        val gone = try { Similarity.ivfPqManifest(store, "ann", Some(0)); null }
        catch { case e: Exception => e }
        require(gone != null && gone.getMessage.contains("retention horizon"),
          s"q344: a retired manifest must fail by name, got $gone")
        val v1count = Similarity.loadIvfPq(store, "ann", Some(1)).encoded.count()
        require(v1count == emb.count() - emb.filter(col("vec_id") % 4 === 3).count(),
          s"q344: kept manifest v1 must still time-travel, got $v1count rows")
        val idx = Similarity.loadIvfPq(store, "ann")
        val out = Similarity.ivfPqSearch(idx, emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = emb.count().toInt)
          .withColumn("rank", col("rank").cast("long"))
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        frozen.orderBy(col("query_id"), col("rank"))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }),

    // Distributed centroid computation (array analytics): element-wise
    // mean of embeddings per group, exact via decimal sums. The typed
    // Aggregator twin (functions.VectorAgg.mean) is spec-covered.
    "q74_embedding_centroids" -> ((s, d) =>
      T(s, d, "embeddings")
        .select((col("vec_id") % 4).as("grp"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim0", "v")))
        .groupBy(col("grp"), (col("dim0") + 1).cast("long").as("dim"))
        .agg((sum(col("v").cast("decimal(18,8)")).cast("double") / count(lit(1))).as("m"))
        .orderBy(col("grp"), col("dim"))),

    // Writeback round trip (S8/S9): a deterministic update set goes
    // through the DSv2 BatchWrite into the fake org, then the org is
    // read back through the connector and aggregated. The update set
    // is itself derived from the org (every Banking account's Amount
    // becomes NumEmployees·1.5), so the oracle regenerates base state
    // AND applies the same update rule in SQL — the q55 recipe, write
    // edition. Store.clear makes each invocation start from base state
    // (re-runs are deterministic).
    "q81_rest_writeback" -> ((s, d) => {
      import graft.sources.rest.FakeTransport
      val opts = Map("object" -> "account", "org" -> "wbverify",
        "numRecords" -> "1000", "seed" -> "42")
      FakeTransport.Store.clear("wbverify")
      graft.sources.rest.RestOps.read(s, opts)
        .filter(col("Industry") === "Banking")
        .select(col("Id"), (col("NumEmployees") * lit(1.5)).as("Amount"))
        .write.format("graft-rest").options(opts).mode("append").save()
      graft.sources.rest.RestOps.read(s, opts)
        .groupBy(col("Industry"))
        .agg(count(lit(1)).as("cnt"), dsum(col("Amount")).as("sum_amount"))
        .orderBy(col("Industry"))
    }),

    // Write-status envelope (S8): per-record upsert results as a
    // STATUS frame — two poisoned records (malformed id, missing id)
    // produce error ROWS, never an exception (reference
    // salesforce/main.py:242-249). Statuses are a pure function of the
    // input ids, so the oracle regenerates them directly.
    "q82_rest_write_status" -> ((s, d) => {
      import s.implicits._
      import graft.sources.rest.FakeTransport
      FakeTransport.Store.clear("wbstatus")
      val updates = ((0 until 10).map(i => (f"00A$i%07d", i * 10.0)) ++
        Seq(("BAD0000001", 1.0), ("00A9999999", 2.0)))
        .toDF("Id", "Amount")
      graft.sources.rest.RestOps.upsertWithStatus(updates, "account",
        Map("object" -> "account", "org" -> "wbstatus",
          "numrecords" -> "100", "seed" -> "42"))
        .orderBy(col("record_id"))
    }),

    // ----------------------------- curation: packing + sampling
    "q62_sequence_packing" -> ((s, d) =>
      graft.ext.Sampling.packSequences(
        T(s, d, "documents").select(col("doc_id"),
          TextOps.tokenCountWs(col("text")).as("tok")),
        "tok", "doc_id", maxTokens = 512L)
        .select(col("doc_id"), col("tok"), col("bin_id"))
        .orderBy(col("doc_id"))),

    // Portable (md5-bucket) deterministic sample — reproducible in
    // DuckDB SQL, so the sampled-id set itself is oracle-checked.
    "q63_deterministic_sample" -> ((s, d) =>
      graft.ext.Sampling.deterministicSample(
        T(s, d, "documents"), "doc_id", fraction = 0.25, portable = true)
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"))),

    // Per-key cap (C4's host cap): at most 50 docs per lang, chosen by
    // the seeded portable hash order — reproducible, unbiased, and
    // replayed exactly by the oracle's rank over the same md5 bucket.
    "q130_cap_per_domain" -> ((s, d) =>
      graft.ext.Sampling.capPerKey(T(s, d, "documents"), "lang", "doc_id",
        n = 50, portable = true)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // BM25 ranked retrieval (keyword search): corpus stats as ONE
    // broadcast single-row aggregate, per-doc tf as narrow columns,
    // top-20 via TakeOrderedAndProject. The contract gates the
    // log-free idf form (ln never crosses engines bit-exactly); real
    // use keeps the textbook logIdf default.
    "q131_bm25_rank" -> ((s, d) =>
      TextOps.bm25Rank(T(s, d, "documents"), "doc_id", "text",
        queryTerms = Seq("data", "model", "learning"), topK = 20,
        logIdf = false)
        .orderBy(col("doc_id"))),

    // HTML boilerplate strip: the fixture text is plain prose, so a
    // deterministic page skeleton (script/style/comment/entities) is
    // wrapped around it to exercise every rule; the oracle replays the
    // same regexp/replace chain (all patterns RE2-safe).
    "q132_html_strip" -> ((s, d) =>
      docsSpread(s, d).select(col("doc_id"),
        TextOps.stripHtml(concat(
          lit("<html><head><title>T</title><style type=\"text/css\">p " +
            "{color: red}</style><script>var x = 1 < 2 && 2 > 1;" +
            "</script></head><body><h1>Head</h1><p>"),
          col("text"),
          lit("</p><!-- footer comment --><div>&amp; &lt;tag&gt; " +
            "&quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>")
        )).as("clean"))
        .orderBy(col("doc_id"))),

    // Context-window chunking: 32-token windows, stride 24 (8 tokens
    // of overlap carry context across each cut); chunk starts while
    // start < n, so the tail chunk may be short and empty docs vanish.
    "q133_chunk_windows" -> ((s, d) =>
      TextOps.chunkTokens(docsSpread(s, d), "doc_id", "text",
        window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // SOFT dedup: duplicate-aware downweighting — every doc kept at
    // weight 1/cluster_size over the winnowing near-dup clusters
    // (q83's components), so each cluster contributes total mass 1.
    "q134_soft_dedup_weights" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.winnowingNearDups(docs, "doc_id", "text",
        k = 5, window = 4, minShared = 3, portable = true)
      Dedup.softDedupWeights(docs, "doc_id", pairs, "a", "b")
        .orderBy(col("doc_id"))
    }),

    // Character-level fuzzy matching: winnowing candidates verified by
    // banded Levenshtein (≤ 5 edits keeps the planted one-word
    // rewrites, drops the distance-8 transitive pair).
    "q135_edit_distance_pairs" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.winnowingNearDups(docs, "doc_id", "text",
        k = 5, window = 4, minShared = 3, portable = true)
      Dedup.editDistancePairs(docs, "doc_id", "text", pairs, "a", "b",
        maxDistance = 5)
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy(col("a"), col("b"))
    }),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the fixture
    // bodies are single-line prose, so a synthetic page is assembled
    // around each — a short header, the body as a sentence, two good
    // sentences, an unterminated nav line, plus arithmetic plants of
    // the "lorem ipsum" and curly-brace document kills — mirrored
    // term-for-term by the oracle. Line rules keep terminal-punctuated
    // lines of ≥ 5 words; docs keep ≥ 3 such lines or drop entirely.
    "q136_c4_clean" -> ((s, d) => {
      val page = docsSpread(s, d).select(col("doc_id"), concat(
        lit("Header\n"),
        col("text"), lit(".\n"),
        lit("This is a sentence with enough words.\n"),
        lit("Click here to subscribe now today\n"),
        lit("Another good sentence appears right here."),
        when(col("doc_id") % 13 === 3,
          lit("\nOur catalog of lorem ipsum samples ships today."))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 5,
          lit("\nfunction f() { return 1; }"))
          .otherwise(lit(""))
      ).as("text"))
      TextOps.c4Clean(page, "doc_id", "text").orderBy(col("doc_id"))
    }),

    // URL canonicalization + URL-level dedup: deterministic noisy URLs
    // (case soup, www, default ports, tracking params, fragments,
    // trailing slashes) are derived from (source, doc_id) and must
    // collide post-canonicalization; the oracle replays the identical
    // regexp chain (no capture-group replacements — Spark $1 vs DuckDB
    // \1 never enters the contract).
    "q137_url_canonical" -> ((s, d) => {
      val id25 = (col("doc_id") % 25).cast("string")
      val m6 = col("doc_id") % 6
      val raw = concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.COM"),
        when(m6 === 0, concat(lit(":443/Docs/"), id25, lit("/")))
          .when(m6 === 1, concat(lit("/Docs/"), id25,
            lit("?utm_source=news&page="), (col("doc_id") % 3).cast("string")))
          .when(m6 === 2, concat(lit("/Docs/"), id25,
            lit("?page="), (col("doc_id") % 3).cast("string"),
            lit("&utm_campaign=summer")))
          .when(m6 === 3, concat(lit("/Docs/"), id25, lit("#frag")))
          .when(m6 === 4, concat(lit(":80/Docs/"), id25,
            lit("?utm_medium=email")))
          .otherwise(concat(lit("/Docs/"), id25)))
      T(s, d, "documents").select(col("doc_id"),
          TextOps.canonicalizeUrl(raw).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keep_doc_id"))
        .orderBy(col("canonical_url"))
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-lang
    // head/middle/tail tertiles of the q117 LM score, computed by the
    // DISTRIBUTED ntile (Sampling.ntileByKey — range-bucketed per-key
    // ranks, never one window partition per language) and replayed by
    // the oracle's plain ntile(3). Scored frame is persisted: ntile's
    // quantile probe + two rank scans would otherwise recompute the
    // LM join per scan.
    "q138_ppl_buckets" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val scored = TextOps.lmScore(docs, "doc_id", "text",
          TextOps.syntheticLmWeights(s, buckets = 64), buckets = 64)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ext.Sampling.ntileByKey(scored, "lang", "lm_score", "doc_id", tiles = 3)
        .select(col("doc_id"), col("lang"), col("lm_score"),
          when(col("tile") === 1, lit("head"))
            .when(col("tile") === 2, lit("middle"))
            .otherwise(lit("tail")).as("ppl_bucket"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance selection (Xie et al. 2023): hashed-uni+bigram
    // importance scores under the synthetic milli-log-ratio table
    // (trained weights are model data — TextOpsSpec), then the exact
    // top-200 by (importance DESC, doc_id) via the token-budget
    // machinery with unit cost. The oracle replays features, weights,
    // integer sum, one division, rank ≤ 200.
    "q139_dsir_select" -> ((s, d) => {
      val scored = TextOps.dsirScore(docsSpread(s, d), "doc_id", "text",
          TextOps.dsirSyntheticWeights(s, buckets = 64), buckets = 64)
        .withColumn("__one", lit(1L))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ext.Sampling.selectByTokenBudget(scored, "__one", "importance",
          "doc_id", budget = 200L)
        .select(col("doc_id"), col("importance"), col("n_features"))
        .orderBy(col("doc_id"))
    }),

    // ftfy-lite text cleanup: smart quotes/dashes/ellipsis → ASCII,
    // NBSP → space, zero-width + C0 controls stripped, space runs
    // collapsed. The fixture text is clean ASCII, so a deterministic
    // messy suffix exercises every rule; full strings hash-compare.
    "q146_text_cleanup" -> ((s, d) =>
      docsSpread(s, d).select(col("doc_id"),
        TextOps.cleanText(concat(col("text"),
          lit(" \u201Cquoted\u201D \u2018s\u2019 \u2013 a\u2014b\u2026 " +
            "x\u00A0y z\u200Bw\u0007end\tq  r"))).as("clean"))
        .orderBy(col("doc_id"))),

    // URL domain blocklist (UT1-style source filtering): canonicalize,
    // extract the host, drop blocklisted domains, count survivors per
    // domain — the cheapest "remove known-bad sites" pass.
    "q147_domain_blocklist" -> ((s, d) => {
      val raw = concat(lit("HTTPS://WWW."), col("source"),
        lit(".Example.COM/p/"), (col("doc_id") % 50).cast("string"))
      T(s, d, "documents")
        .select(col("doc_id"),
          TextOps.urlDomain(TextOps.canonicalizeUrl(raw)).as("domain"))
        .filter(!col("domain").isin(
          "src3.example.com", "src7.example.com", "src12.example.com"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("domain"))
    }),

    // Temperature-based mixture allocation (α = ½ "alpha sampling",
    // Conneau & Lample 2019): per-lang share ∝ √n, quantized to int64
    // milli-units so the largest-remainder apportionment of the
    // 300-doc budget is engine-exact.
    "q140_temperature_mix" -> ((s, d) =>
      graft.ext.Sampling.temperatureMix(T(s, d, "documents"), "lang", budget = 300L)
        .orderBy(col("lang"))),

    // Character-diversity filter: unbiased Gini–Simpson over character
    // counts — the log-free entropy proxy (integer counts, one double
    // division) that flags repetition garbage and near-random noise.
    "q141_char_diversity" -> ((s, d) =>
      TextOps.charDiversity(docsSpread(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Trailing event-time feature (behavioral/time-series feature
    // engineering): per user, count + decimal-exact value sum over the
    // preceding hour — a RANGE frame on microsecond epoch, so ties are
    // peers in both engines and the boundary is integer-exact. The
    // window partitions by user (bounded groups), never globally.
    "q148_rolling_hour" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-(3600L * 1000000L - 1L), 0L)
      T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(18,4)")).over(w)
            .cast("double").as("sum_1h"))
        .orderBy(col("event_id"))
    }),

    // The modern curation pipeline end to end (the round-10 upgrade of
    // q60): Gopher document gate → character-diversity band (drop
    // repetition garbage and near-noise) → exact dedup keep-min →
    // quality-ranked selection under a 10k-token budget. Every stage
    // is individually oracle-gated elsewhere (q124, q141, q39, q129);
    // this pins their COMPOSITION.
    "q156_curation_v2" -> ((s, d) => {
      val docs = docsSpread(s, d)
      // the gate applies every Gopher rule EXCEPT required-words: the
      // synthetic fixture vocabulary contains no English function
      // words, so that rule would empty the corpus (it stays covered
      // by q124's flag); the remaining rules discriminate for real
      val g = TextOps.gopherQuality(col("text"))
      val gated = docs.filter(
        g.getField("word_count") >= 50L &&
          g.getField("word_count") <= 100000L &&
          g.getField("mean_word_len") >= 3.0 &&
          g.getField("mean_word_len") <= 10.0 &&
          g.getField("symbol_ratio") <= 0.1 &&
          g.getField("bullet_ratio") <= 0.9 &&
          g.getField("ellipsis_ratio") <= 0.3 &&
          g.getField("alpha_ratio") >= 0.8)
      val band = TextOps.charDiversity(gated, "doc_id", "text")
        .filter(col("char_diversity") >= 0.5 && col("char_diversity") <= 0.98)
        .select(col("doc_id"))
      val surv = gated.join(band, Seq("doc_id"))
      val keep = surv
        .groupBy(TextOps.fingerprintMd5(col("text")).as("__fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // persist before the budget selection: its quantile probe + two
      // rank scans would otherwise recompute the gate→diversity→dedup
      // pipeline three times (measured 8.2 s → ~3 s in-suite)
      val scored = surv.join(keep, Seq("doc_id"))
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("tok"),
          TextOps.qualityScore(col("text")).as("quality"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.ext.Sampling.selectByTokenBudget(scored, "tok", "quality",
          "doc_id", budget = 10000L)
        .select(col("doc_id"), col("tok"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // Robust (10%-trimmed) mean price per return flag: drop the top
    // and bottom deciles via the distributed per-key NTILE, then a
    // decimal-exact mean — outlier-insensitive central tendency
    // without a per-group window sort.
    "q153_trimmed_mean" -> ((s, d) => {
      val li = T(s, d, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice"),
        (col("l_orderkey") * 10L + col("l_linenumber")).as("__rid"))
      graft.ext.Sampling.ntileByKey(li, "l_returnflag", "l_extendedprice",
          "__rid", tiles = 10)
        .filter(col("tile") > 1 && col("tile") < 10)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"),
          (dsum(col("l_extendedprice")) / count(lit(1)))
            .as("trimmed_mean"))
        .orderBy(col("l_returnflag"))
    }),

    // Corpus snapshot DIFF (the time-travel audit): what changed
    // between two committed versions — additions, removals, text
    // changes (by content fingerprint), unchanged. v1 derives from v0
    // arithmetically (drop doc_id%10=0, rewrite text for %7=1 among
    // survivors, add %13=2 under offset ids), so the oracle replays
    // the per-class counts directly. Counts are computed DISTRIBUTED
    // (full outer join on doc_id + fingerprint compare), then
    // materialized driver-side so the temp store can be deleted.
    "q154_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-diff")
      val store = new graft.core.TableStore(s, root.toString)
      val base = T(s, d, "documents").select(col("doc_id"), col("text"))
      store.write("docs", base)                                  // v0
      val survivors = base.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val added = base.filter(col("doc_id") % 13 === 2)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      store.write("docs", survivors.unionByName(added))          // v1
      val v0 = store.readVersion("docs", 0)
        .select(col("doc_id"), md5(col("text")).as("__f0"))
      val v1 = store.readVersion("docs", 1)
        .select(col("doc_id"), md5(col("text")).as("__f1"))
      val cls = v0.join(v1, Seq("doc_id"), "full_outer")
        .select(when(col("__f1").isNull, lit("removed"))
          .when(col("__f0").isNull, lit("added"))
          .when(col("__f0") =!= col("__f1"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"))
        .groupBy(col("change_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      cls.toDF("change_type", "n").orderBy(col("change_type"))
    }),

    // SPAN-level benchmark decontamination: excise just the token
    // spans covered by benchmark 5-grams instead of dropping whole
    // documents (q100's surgical complement) — bench grams broadcast
    // into a semi-join, islands merge, token-level removal. Bench
    // docs themselves (they live in the corpus too) excise fully.
    "q151_decontaminate_spans" -> ((s, d) => {
      val docs = docsSpread(s, d)
      val bench = T(s, d, "documents").filter(col("doc_id") % 17 === 0)
      val spans = Dedup.contaminatedSpans(docs, "doc_id", "text",
        bench, "doc_id", "text", gramLen = 5, portable = true)
      Dedup.removeDuplicatedSpans(docs, spans, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Host-authority ranking: integer-exact PageRank (5 rounds, ppm
    // mass, exact 85/100 damping under floor division) over a
    // deterministic 101-node link graph derived from doc ids — the
    // Common-Crawl-style quality weight for hosts. Every mass is an
    // int64 the oracle reproduces bit for bit by unrolling the rounds.
    "q150_pagerank" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val e1 = docs.select((col("doc_id") % 101).as("src"),
        ((col("doc_id") * 31 + 7) % 101).as("dst"))
      val e2 = docs.select((col("doc_id") % 101).as("src"),
        ((col("doc_id") * 57 + 13) % 101).as("dst"))
      graft.ext.GraphOps.pageRankInt(e1.unionByName(e2), "src", "dst",
          iterations = 5)
        .select(col("id").as("node"), col("mass"))
        .orderBy(col("node"))
    }),

    // Per-language document-length percentile bands (winsorize/outlier
    // flagging) — percentile = the distributed per-key NTILE at 100
    // tiles (the q138 machinery at a finer grain; a per-lang window
    // would serialize each language). Longest docs land in band 1;
    // the outlier flag marks the extreme 2% on both ends.
    "q149_length_outliers" -> ((s, d) => {
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.ext.Sampling.ntileByKey(docs, "lang", "n_chars", "doc_id",
          tiles = 100)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("tile").as("pct_band"),
          (col("tile") <= 2 || col("tile") >= 99).as("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer fertility by language: BPE tokens per word and chars
    // per token under the fixed contract merge list — integer sums,
    // two divisions, replayed with the q122 replace-chain encoder.
    "q142_token_fertility" -> ((s, d) =>
      TextOps.bpeFertility(docsSpread(s, d), "lang", "text",
        BpeContractMerges)
        .orderBy(col("lang"))),

    // Contrastive pair mining: winnowing collisions labeled positive
    // (≥ 3 shared fingerprints — near-dups) vs hard_negative (1–2
    // shared: lexically close non-duplicates, the negatives that
    // actually teach an embedding model).
    "q143_contrastive_pairs" -> ((s, d) =>
      Dedup.contrastivePairs(T(s, d, "documents"), "doc_id", "text",
        k = 5, window = 4, posShared = 3, portable = true)
        .select(col("a"), col("b"), col("n_shared"), col("label"))
        .orderBy(col("a"), col("b"))),

    // MinHash estimator calibration: per LSH candidate pair, the
    // signature-match estimate of Jaccard next to the exact
    // shingle-set Jaccard and the absolute error — the audit that
    // says whether the sketch can be trusted before banding 100 TB.
    "q144_sketch_calibration" -> ((s, d) =>
      Dedup.minhashCalibration(T(s, d, "documents"), "doc_id", "text",
        k = 16, bands = 4, shingleN = 3, portable = true)
        .orderBy(col("a"), col("b"))),

    // Snapshot TIME TRAVEL (storage): three committed versions — base,
    // keyed balance bump, predicate delete — each read back AS OF its
    // version (TableStore.readVersion; snapshots are immutable, so
    // history reads are plain scans of old directories). Counts +
    // decimal-exact sums per version are driver-side facts
    // (LocalRelation out, temp store deleted before returning); the
    // oracle replays each version's mutation arithmetically.
    "q145_time_travel" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-tt")
      val store = new graft.core.TableStore(s, root.toString)
      val base = T(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      store.write("cust", base)                                  // v0
      val v1 = base.withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
      store.write("cust", v1)                                    // v1
      store.write("cust", v1.filter(col("c_custkey") % 5 =!= 0)) // v2
      val rows = store.versions("cust").map { v =>
        val agg = store.readVersion("cust", v)
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("s")).head
        (v.toLong, agg.getLong(0), agg.getDouble(1))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      rows.toDF("version", "n_rows", "sum_bal").orderBy(col("version"))
    }),

    // WITHIN-doc duplicate-line removal — the per-document complement
    // of q120's cross-doc paragraph dedup (Dolma runs both). The
    // multiline fixture's planted "self repeat" lines (doc_id%7==2)
    // must collapse to their first occurrence while blanks and unique
    // lines survive in order.
    "q128_within_doc_lines" -> ((s, d) =>
      Dedup.removeWithinDocDuplicateLines(docsMultiline(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Quality-ranked selection under a token budget ("take the best
    // 15k tokens"): rank by (quality DESC, doc_id), keep docs that
    // START within the budget. The oracle replays the rank + running
    // sum with the q42 quality expression; integer token cumsum is
    // exact cross-engine.
    "q129_token_budget" -> ((s, d) => {
      val docs = docsSpread(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("tok"),
        TextOps.qualityScore(col("text")).as("quality"))
      graft.ext.Sampling.selectByTokenBudget(docs, "tok", "quality",
        "doc_id", budget = 15000L)
        .select(col("doc_id"), col("tok"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization via the native codegen'd expression
    // (functions.NfcNormalize): the fixture text is ASCII (NFC
    // no-op — exercising the zero-allocation fast path), so a
    // decomposed suffix (e+combining acute, A+combining ring) is
    // appended to force real composition work; the oracle replays
    // with DuckDB's nfc_normalize and the full strings hash-compare.
    "q127_nfc_normalize" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.nfc(
            concat(col("text"), lit(" cafe\u0301 A\u030A"))).as("norm"))
        .orderBy(col("doc_id"))),

    // Deterministic global shuffle into shards (epoch-0 training
    // order): hash-defined order + shard assignment, replayed by the
    // oracle with the same md5 bucket arithmetic and rank. One shard
    // exchange + per-shard sort — no global sort anywhere.
    "q126_shuffle_shards" -> ((s, d) =>
      graft.ext.Sampling.shuffleIntoShards(
        T(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", shards = 8, portable = true)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))),

    // Weighted fixed-size sampling — sequential Poisson / order
    // sampling (Ohlsson 1998): order variable q = u/w over the
    // portable hash, n smallest win, inclusion ≈ proportional to
    // n_chars. Per-partition top-n + driver merge (TakeOrdered), no
    // global sort; the oracle replays u, the IEEE division, and the
    // tie-break exactly.
    "q160_pps_sample" -> ((s, d) =>
      graft.ext.Sampling.ppsSample(
        T(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 200)
        .orderBy(col("doc_id"))),

    // Sequence packing WITHIN a partition key (lang): the scale form —
    // each partition sorts independently instead of one global sort.
    "q68_packing_by_lang" -> ((s, d) =>
      graft.ext.Sampling.packSequences(
        T(s, d, "documents").select(col("doc_id"), col("lang"),
          TextOps.tokenCountWs(col("text")).as("tok")),
        "tok", "doc_id", maxTokens = 512L, partitionCols = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("tok"), col("bin_id"))
        .orderBy(col("doc_id"))),

    // Stream-stream interval join, exercised in batch mode (the same
    // function runs under readStream with watermark-bounded state):
    // per user, how many same-user events precede each event by ≤ 5
    // minutes — the attribution-join shape over the events fixture.
    "q69_interval_join" -> ((s, d) => {
      val e = T(s, d, "events")
      val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts"))
      val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      Streams.intervalJoin(a, "a_user", "a_ts", b, "b_user", "b_ts",
        lookback = "5 minutes", lookahead = "0 seconds")
        .filter(col("b_id") =!= col("a_id"))
        .groupBy(col("a_user")).agg(count(lit(1)).as("n_pairs"))
        .select(col("a_user").as("user_id"), col("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // Resize (thumbnail stand-in): content verified by md5 of the
    // sampled payload — DuckDB reproduces the every-4th-char sampling.
    "q75_media_resize" -> ((s, d) =>
      Multimodal.resize(
        Multimodal.packAsMedia(T(s, d, "documents"), "doc_id", "text"), factor = 4)
        .select(col("media_id"),
          md5(col("media.bytes")).as("thumb_md5"),
          length(col("media.bytes").cast("string")).cast("long").as("out_chars"),
          col("media.width").cast("long").as("width"),
          col("media.height").cast("long").as("height"))
        .orderBy(col("media_id"))),

    // Count-min heavy hitters (ext.Sketches.countMinFrequency): the
    // portable 2-universal hashing means DuckDB rebuilds the identical
    // 4×256 counter matrix, so even the collision-inflated estimates
    // hash-match. Top-50 by estimate with a total tie-break order.
    "q95_heavy_hitters" -> ((s, d) =>
      graft.ext.Sketches.countMinFrequency(
        T(s, d, "events").select(col("user_id").cast("string").as("val")),
        "val", depth = 4, width = 256)
        // asc_nulls_last: events.user_id is nullable and DuckDB sorts
        // NULLS LAST by default while Spark sorts them FIRST — pin the
        // tie-break order so the NULL val can never reorder the cutoff
        .orderBy(col("est_count").desc, col("val").asc_nulls_last)
        .limit(50)),

    // Count-min MERGE contract (the additive twin of q152's HLL
    // max-merge): two disjoint shards sketched independently, counter
    // matrices summed elementwise, probed once — must hash-match
    // q95's DIRECT whole-stream oracle.
    "q155_cm_merge" -> ((s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id").cast("string").as("val"))
      val ca = graft.ext.Sketches.cmCounters(
        ev.filter(col("event_id") % 2 === 0), "val", depth = 4, width = 256)
      val cb = graft.ext.Sketches.cmCounters(
        ev.filter(col("event_id") % 2 =!= 0), "val", depth = 4, width = 256)
      graft.ext.Sketches.cmEstimate(ev,
          graft.ext.Sketches.cmMergeCounters(ca, cb),
          "val", depth = 4, width = 256)
        .orderBy(col("est_count").desc, col("val").asc_nulls_last)
        .limit(50)
    }),

    // Bloom MERGE contract — the FOURTH mergeable-summary class
    // (bitwise-OR merge, after HLL max q152, count-min sum q155, KMV
    // bounded-set q157): per-shard set-bit frames unioned are
    // bit-identical to the direct filter, so merged membership answers
    // (false positives included) hash-match the direct replay. The
    // probe set (every customer key) is 10x the inserted set (event
    // user ids), so absent-key probes and the no-false-negative law
    // are both exercised.
    "q158_bloom_merge" -> ((s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id").cast("string").as("val"))
      val ba = graft.ext.Sketches.bloomPositions(
        ev.filter(col("event_id") % 2 === 0), "val", mBits = 1024, k = 4)
      val bb = graft.ext.Sketches.bloomPositions(
        ev.filter(col("event_id") % 2 =!= 0), "val", mBits = 1024, k = 4)
      graft.ext.Sketches.bloomContains(
          T(s, d, "customer").select(col("c_custkey").cast("string").as("val")),
          graft.ext.Sketches.bloomMerge(ba, bb),
          "val", mBits = 1024, k = 4)
        .select(col("val").cast("long").as("c_custkey"), col("maybe_present"))
        .orderBy(col("c_custkey"))
    }),

    // Incremental MV maintenance (ext.Incremental): state(base) merged
    // with state(delta) reads out EXACTLY like a direct recompute over
    // the union — counts/sums add (decimal-exact), mins/maxes combine.
    // The oracle IS the direct recompute; the refresh never re-scans
    // the base.
    "q159_incremental_mv" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val cut = lit("1995-01-01 00:00:00").cast("timestamp")
      val keys = Seq("l_returnflag")
      val ms = Seq("l_quantity", "l_extendedprice")
      val base = graft.ext.Incremental.aggState(
        li.filter(col("l_shipdate") < cut), keys, ms)
      val delta = graft.ext.Incremental.aggState(
        li.filter(col("l_shipdate") >= cut), keys, ms)
      graft.ext.Incremental.readout(
          graft.ext.Incremental.mergeStates(keys, ms, base, delta), keys, ms)
        .orderBy(col("l_returnflag"))
    }),

    // Bloom-pruned join (operators.BloomJoin): the big side is
    // filtered against the small side's key bitmap BEFORE the join
    // exchange; false positives are removed by the join itself, so
    // the oracle is the PLAIN join — exactness is structural.
    "q96_bloom_join" -> ((s, d) =>
      graft.operators.BloomJoin.prunedJoin(
        T(s, d, "lineitem"), "l_partkey",
        T(s, d, "part").filter(col("p_size") === 15), "p_partkey",
        numBits = 1 << 16)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("p_brand"))),

    // Gopher-style repetition quality (ext.TextOps.repetitionStats):
    // duplicate-word and duplicate-bigram fractions per document over
    // the literal single-space token stream.
    "q97_repetition" -> ((s, d) =>
      TextOps.repetitionStats(T(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Salted skew join (operators.SkewJoin.saltedJoin): result must be
    // IDENTICAL to the plain equi-join — the salt only re-shards the
    // hot keys (left side salted by full-row hash, right side
    // replicated across the salt range).
    "q98_salted_join" -> ((s, d) => {
      val l = T(s, d, "events").select(col("user_id").as("ck"), col("event_id"))
      val r = T(s, d, "customer").select(col("c_custkey").as("ck"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(l, r, Seq("ck"), saltBuckets = 8)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // Incremental dedup (ext.Dedup.incrementalExactReleasable): new docs plus
    // resubmissions of corpus content under fresh ids — the
    // resubmissions must be dropped by content fingerprint even though
    // their ids are novel; the bloom split must not drop novel docs.
    "q99_incremental_dedup" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .unionByName(corpus.withColumn("doc_id", col("doc_id") + 100000))
      // 2^16 bits is ~39 bits/key at the sf0.1 corpus (~1667 distinct
      // fingerprints) — far past the ~10 bits/key the 1 %-FP rule
      // needs; the API default (2^20) would embed a 16K-long literal
      // per union branch for a fixture-sized corpus — same result,
      // heavier plan
      Dedup.incrementalExactReleasable(batch, corpus, "text", bloomBits = 1 << 16)
        .result.select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Decontamination (ext.TextOps.contaminatedDocs): every doc
    // sharing a 5-gram with the stand-in benchmark slice (doc_id %
    // 17 = 0) is flagged with its distinct-hit count; benchmark docs
    // flag themselves, cross-doc hits come from shared shingles.
    // (n = 5, not the published 13: fixture docs are ~30-60 words.)
    "q100_decontaminate" -> ((s, d) => {
      val bench = T(s, d, "documents").filter(col("doc_id") % 17 === 0)
      TextOps.contaminatedDocs(docsSpread(s, d), "doc_id", "text",
        bench, "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // Stratified sampling (ext.Sampling.stratifiedSample, portable):
    // per-lang keep rates — the mixture-targeting knob of a curation
    // pipeline. Thresholds are exact integers, so DuckDB replays the
    // md5 bucket arithmetic bit-for-bit (the q63 recipe, per-stratum).
    "q104_stratified_sample" -> ((s, d) =>
      graft.ext.Sampling.stratifiedSample(T(s, d, "documents"),
        "doc_id", "lang", fractions = Map("en" -> 0.5, "zh" -> 0.25),
        default = 1.0, portable = true)
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"))),

    // Domain mixing (ext.Sampling.mixToProportions): target-weight
    // subsampling under a row budget — en down-samples to its 0.5·300
    // slot, zh's slot exceeds its size (rate caps at 1, keeps all),
    // de keeps ~0.86, unweighted es/fr drop. The oracle recomputes the
    // per-domain IEEE rate arithmetic and the md5 bucket thresholds
    // from the same counts.
    "q111_domain_mix" -> ((s, d) =>
      graft.ext.Sampling.mixToProportions(T(s, d, "documents"),
        "doc_id", "lang",
        weights = Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.2),
        budget = 300, portable = true)
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"))),

    // Leakage-safe split (ext.Sampling.leakageSafeSplit): near-dup
    // CLUSTERS (winnowing pairs → connected components) are assigned
    // to train/holdout as units, so no near-duplicate ever straddles
    // the split. Oracle = the q83 recursive-CTE closure + the same
    // md5 bucket on cluster_id.
    // Scoped to the even-id half of the corpus: the pair machinery is
    // already fully gated by q61/q83 on the whole table, so q105 pays
    // for the SPLIT semantics, not a third full winnowing run.
    "q105_leakage_split" -> ((s, d) => {
      val docs = T(s, d, "documents").filter(col("doc_id") % 2 === 0)
      val pairs = Dedup.winnowingNearDups(docs, "doc_id", "text",
        k = 5, window = 4, minShared = 3, portable = true)
      graft.ext.Sampling.leakageSafeSplit(docs.select(col("doc_id")),
        "doc_id", pairs, "a", "b", trainFraction = 0.8, portable = true)
        .orderBy(col("doc_id"))
    }),

    // Incremental NEAR-dup (ext.Dedup.incrementalNearDups): the LSH
    // analogue of q99 — batch docs that are light REWRITES of corpus
    // content (first word dropped, new ids) must be caught by
    // signature similarity even though their fingerprints differ;
    // cross-set candidates only. Oracle replays the per-side pipeline.
    // The rewrite-id offset is DERIVED (max(doc_id) + 1) so rewrite ids
    // can never collide with real ids at any fixture size — an id
    // collision would make the LSH path MERGE the colliding docs'
    // shingles while the oracle kept them separate (r6 verdict noted
    // the previous fixed +100000 assumed max(doc_id) < 100000).
    "q107_incremental_neardup" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val offset = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
        .unionByName(corpus
          .withColumn("doc_id", col("doc_id") + offset)
          .withColumn("text", regexp_replace(col("text"), "^[^ ]+ ", "")))
      Dedup.incrementalNearDups(batch, corpus, "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4, shingleN = 3, portable = true)
        .result.orderBy(col("a"), col("b"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // exhaustive shingle-join truth + the q45 banding CTEs + counts
    "q302_lsh_recall" -> LshRecallOracleSql,

    // both sides individually gated (q49 brute, q84 PQ); the recall
    // join composes their oracle CTEs verbatim
    "q296_ann_recall" ->
      s"""WITH bt AS (SELECT query_id, nn_id FROM ($AnnTopkSql)),
         |cd AS (SELECT query_id, nn_id FROM ($PqOracleSql))
         |SELECT bt.query_id, count(cd.nn_id) AS n_overlap,
         |  CAST(floor(CAST(count(cd.nn_id) AS DOUBLE) * 1000000.0 / 10.0) AS BIGINT) AS recall_ppm
         |FROM bt LEFT JOIN cd ON cd.query_id = bt.query_id AND cd.nn_id = bt.nn_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // df-gate -> per-doc lexicographic cap -> doc-keyed pair self-join
    "q285_cooccur_lift" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS tok
        |    FROM documents)),
        |dc AS (SELECT CAST(count(*) AS HUGEINT) AS d FROM documents),
        |dfT AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
        |kept AS (SELECT dfT.tok, dfT.df FROM dfT CROSS JOIN dc
        |  WHERE df >= 5 AND CAST(df AS HUGEINT) * 1000000 <= 800000 * d),
        |cap AS (SELECT doc_id, tok, df FROM (
        |    SELECT dt.doc_id, dt.tok, kept.df,
        |      row_number() OVER (PARTITION BY dt.doc_id ORDER BY dt.tok) AS rn
        |    FROM dt JOIN kept ON kept.tok = dt.tok)
        |  WHERE rn <= 24),
        |pr AS (SELECT a.tok AS token_a, b.tok AS token_b,
        |    count(*) AS n_pair, min(a.df) AS df_a, min(b.df) AS df_b
        |  FROM cap a JOIN cap b
        |    ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |top AS (SELECT * FROM pr
        |  ORDER BY n_pair DESC, token_a, token_b LIMIT 50)
        |SELECT token_a, token_b, n_pair, df_a, df_b,
        |  CAST((CAST(n_pair AS HUGEINT) * (SELECT d FROM dc) * 1000000)
        |    // (CAST(df_a AS HUGEINT) * df_b) AS BIGINT) AS lift_ppm
        |FROM top""".stripMargin,

    // three LFs + exact majority vote / confidence
    "q289_label_vote" ->
      """WITH tk AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |lf AS (SELECT doc_id,
        |    CASE WHEN n_chars < 200 THEN 1
        |         WHEN n_chars > 1000 THEN 0 ELSE NULL END AS lf_short,
        |    CASE WHEN len(list_filter(toks, x -> list_contains(
        |        ['the','and','of','to','in','is','that','it','for','with'], x))) = 0 THEN 1
        |      WHEN len(list_filter(toks, x -> list_contains(
        |        ['the','and','of','to','in','is','that','it','for','with'], x))) >= 5 THEN 0
        |      ELSE NULL END AS lf_nostop,
        |    CASE WHEN len(toks) > 0 AND
        |        len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) * 5 > len(toks) THEN 1
        |      WHEN len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) = 0 THEN 0
        |      ELSE NULL END AS lf_digits
        |  FROM tk),
        |v AS (SELECT doc_id, lf_short, lf_nostop, lf_digits,
        |    (CASE WHEN lf_short = 1 THEN 1 ELSE 0 END
        |     + CASE WHEN lf_nostop = 1 THEN 1 ELSE 0 END
        |     + CASE WHEN lf_digits = 1 THEN 1 ELSE 0 END) AS p,
        |    (CASE WHEN lf_short = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN lf_nostop = 0 THEN 1 ELSE 0 END
        |     + CASE WHEN lf_digits = 0 THEN 1 ELSE 0 END) AS ng
        |  FROM lf)
        |SELECT doc_id, lf_short, lf_nostop, lf_digits,
        |  CAST(p AS BIGINT) AS n_pos_votes, CAST(ng AS BIGINT) AS n_neg_votes,
        |  CASE WHEN p > ng THEN 1 WHEN ng > p THEN 0 ELSE NULL END AS vote_label,
        |  CASE WHEN p + ng > 0
        |    THEN CAST(floor(CAST(greatest(p, ng) AS DOUBLE) * 1000000.0
        |      / CAST(p + ng AS DOUBLE)) AS BIGINT)
        |    ELSE NULL END AS vote_conf_ppm
        |FROM v ORDER BY doc_id""".stripMargin,


    // block + levenshtein verify + recursive-CTE closure + min-id
    // canonicalization, replaying linkRecords stage for stage
    "q311_record_linkage" ->
      """WITH RECURSIVE base AS (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000,
        |    substring(c_name, 1, 10) || 'X' || substring(c_name, 12)
        |  FROM customer WHERE c_custkey % 3 = 0),
        |b AS (SELECT id, name, substring(name, 15, 4) AS blk FROM base),
        |p AS (
        |  SELECT x.id AS a, y.id AS b FROM b x JOIN b y
        |  ON x.blk = y.blk AND x.id < y.id
        |    AND levenshtein(x.name, y.name) <= 1),
        |sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT id AS src, id AS dst FROM b
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cc AS (SELECT src AS id, min(dst) AS canonical_id FROM reach GROUP BY 1),
        |sz AS (SELECT canonical_id, count(*) AS cluster_size FROM cc GROUP BY 1)
        |SELECT CAST(b.id AS BIGINT) AS id, b.name,
        |  CAST(cc.canonical_id AS BIGINT) AS canonical_id,
        |  CAST(sz.cluster_size AS BIGINT) AS cluster_size
        |FROM b JOIN cc ON cc.id = b.id
        |JOIN sz ON sz.canonical_id = cc.canonical_id
        |ORDER BY b.id""".stripMargin,

    "q70_sql_exists" -> ExistsSql,
    "q71_sql_custdist" -> CustDistSql,
    "q72_sql_having_global" -> HavingGlobalSql,
    "q73_sql_not_exists" -> NotExistsSql,
    "q64_sql_q6" -> Q6Sql,
    "q65_sql_q12" -> Q12Sql,
    "q66_sql_q14" -> Q14Sql,

    // same nested document, decoded with DuckDB's JSON path functions
    // (object field, array-of-struct index, array length)
    "q80_nested_json" ->
      """WITH j AS (
        |  SELECT event_id,
        |    '{"meta":{"user":' || user_id || ',"type":"' || event_type ||
        |    '"},"readings":[{"dim":"val","v":' || CAST(floor(value) AS BIGINT) ||
        |    '},{"dim":"k","v":' || CAST(json_extract_string(props, '$.k') AS BIGINT) ||
        |    '}]}' AS doc
        |  FROM events)
        |SELECT event_id,
        |  CAST(json_extract(doc, '$.meta.user') AS BIGINT) AS user_id,
        |  json_extract_string(doc, '$.meta.type') AS etype,
        |  CAST(json_extract(doc, '$.readings[0].v') AS BIGINT) AS v0,
        |  CAST(json_extract(doc, '$.readings[1].v') AS BIGINT) AS v1,
        |  CAST(json_array_length(doc, '$.readings') AS BIGINT) AS n_readings
        |FROM j ORDER BY event_id""".stripMargin,

    "q67_event_enrichment" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate),
        |e AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.ts, e.k, o.o_orderkey
        |  FROM e ASOF LEFT JOIN o
        |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
        |SELECT event_id, user_id, k, o_orderkey,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_events
        |FROM j ORDER BY event_id""".stripMargin,

    // KMV distinct-count sketch: est = (k-1)/f_k over distinct-value
    // hash fractions; exact count when the group has < k distinct.
    "q76_kmv_distinct" -> KmvDirectOracleSql,
    // per-shard k-min sets merged (dedup, re-sort, keep k smallest)
    // estimate exactly like the direct sketch — the bounded-set merge
    // law; the direct oracle replays verbatim
    "q157_kmv_merge" -> KmvDirectOracleSql,

    // Portable HLL: 56-bit hash → (bucket = low 6 bits, ρ = 51 −
    // bitlength of the top 50), register max per bucket, harmonic sum
    // scaled 2^30 (integer-exact), α₆₄ = 709/1000 as one integer
    // division, linear counting via the same 64-entry table.
    "q91_hll_distinct" -> HllUnionOracleSql,
    // merged per-shard registers estimate EXACTLY like the direct
    // union sketch (max is the lossless HLL merge) — same oracle
    "q152_hll_merge" -> HllUnionOracleSql,

    // Writeback round trip: regenerate the fake org's base records
    // (same arithmetic as q55) and apply q81's update rule — Banking
    // accounts' Amount becomes NumEmployees·1.5 — then aggregate the
    // post-write state the connector reads back.
    "q81_rest_writeback" ->
      """WITH g AS (
        |  SELECT i, xor(CAST(42 AS BIGINT) * 1315423911, CAST(i AS BIGINT) * 2654435761) AS h
        |  FROM range(0, 1000) t(i)),
        |r AS (
        |  SELECT i,
        |    (['Agriculture', 'Banking', 'Consulting', 'Energy', 'Media', 'Retail'])[CAST(abs(h % 6) AS INTEGER) + 1] AS Industry,
        |    CAST(abs(h % 1000000) AS DOUBLE) / 100.0 AS Amount,
        |    abs(h % 10000) AS NumEmployees
        |  FROM g),
        |u AS (
        |  SELECT Industry,
        |    CASE WHEN Industry = 'Banking' THEN NumEmployees * 1.5 ELSE Amount END AS Amount
        |  FROM r)
        |SELECT Industry, count(*) AS cnt,
        |  CAST(sum(CAST(Amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_amount
        |FROM u GROUP BY Industry ORDER BY Industry""".stripMargin,

    // statuses are a pure function of the poisoned/valid input ids:
    // ids 0..9 exist (success), BAD* trips the malformed-id error,
    // 00A9999999 is beyond the 100-record org (not found)
    "q82_rest_write_status" ->
      """SELECT record_id, success, error FROM (
        |  SELECT printf('00A%07d', i) AS record_id, TRUE AS success,
        |    CAST(NULL AS VARCHAR) AS error
        |  FROM range(0, 10) t(i)
        |  UNION ALL SELECT 'BAD0000001', FALSE, 'MALFORMED_ID: BAD0000001'
        |  UNION ALL SELECT '00A9999999', FALSE, 'NOT_FOUND: 00A9999999')
        |ORDER BY record_id""".stripMargin,

    // discrete median of the portable 10% sample (rank ⌈n/2⌉ — an
    // actual data value, no interpolation arithmetic to diverge on)
    "q77_sampled_median" ->
      """WITH s AS (
        |  SELECT l_returnflag, l_extendedprice FROM lineitem
        |  WHERE CAST(concat('0x', substring(md5(concat('42', '|', CAST(l_orderkey AS VARCHAR))), 1, 14)) AS BIGINT) % 1000000 < 100000),
        |r AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rk,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM s)
        |SELECT l_returnflag, l_extendedprice AS q_est
        |FROM r WHERE rk = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |ORDER BY l_returnflag""".stripMargin,

    "q78_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // wide→long as the explicit UNION ALL the unpivot is sugar for
    "q93_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q94_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q79_window_dist" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM lineitem WHERE l_orderkey < 1000
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q61_winnowing_neardup" -> WinnowingOracleSql,

    "q84_ann_pq" -> PqOracleSql,

    // the catalog state is fully determined by the DDL sequence —
    // the oracle is the literal expected fact table
    "q90_catalog_ops" ->
      """SELECT * FROM (VALUES
        |  ('alive', 'true'), ('exists:t1', 'true'), ('exists:nope', 'false'),
        |  ('count:t1', '0'), ('view_rows:v_all', '0'),
        |  ('table', 't1'), ('table', 't2'),
        |  ('column:t1', 'id'), ('column:t1', 'v'), ('column:t1', 'quality'),
        |  ('view', 'v_all')) AS t(kind, name)
        |ORDER BY kind, name""".stripMargin,

    "q89_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Morton interleave replay: same quantizer (integer equi-width)
    // and the same 32 shift/and/or terms, generated from one source
    "q92_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH q AS (
        |  SELECT event_id,
        |    CASE WHEN user_id IS NULL THEN NULL
        |         ELSE (least(greatest(CAST(user_id AS BIGINT), 0), 9999) * 65536) // 10000
        |    END AS x,
        |    CASE WHEN event_id IS NULL THEN NULL
        |         ELSE (least(greatest(CAST(event_id AS BIGINT), 0), 65535) * 65536) // 65536
        |    END AS y
        |  FROM events WHERE event_id <= 2000)
        |SELECT event_id, ${terms.mkString(" | ")} AS z
        |FROM q ORDER BY event_id""".stripMargin
    },

    // DuckDB ASOF with <= is the forward direction (nearest following)
    "q88_asof_forward" ->
      """WITH er AS (
        |  SELECT user_id AS err_user, ts AS err_ts, min(event_id) AS err_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, er.err_id, er.err_ts
        |FROM events e ASOF LEFT JOIN er
        |  ON e.user_id = er.err_user AND e.ts <= er.err_ts
        |ORDER BY e.event_id""".stripMargin,

    // each event belongs to exactly 4 = length/slide windows whose
    // starts step back by the slide from the event's floor slot
    "q87_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        |x AS (SELECT event_type, us, unnest(range(0, 4)) AS j FROM e),
        |w AS (SELECT event_type,
        |  make_timestamp(us - (us % 1800000000) - j * 1800000000) AS w_start FROM x)
        |SELECT w_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the binned equi-join + residual filter must equal the direct
    // theta-join the oracle runs
    "q86_range_join" ->
      """WITH p AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS pd
        |  FROM lineitem WHERE l_orderkey < 300),
        |iv AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS lo,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 30 AS hi
        |  FROM orders WHERE o_orderkey < 40)
        |SELECT p.l_orderkey, p.l_linenumber, iv.o_orderkey, p.pd, iv.lo
        |FROM p JOIN iv ON p.pd >= iv.lo AND p.pd < iv.hi
        |ORDER BY 1, 2, 3""".stripMargin,

    // log-free tf-idf: tf · (N+1)/(df+1) — the division and multiply
    // are single correctly-rounded IEEE ops, identical in any engine
    "q85_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) >= 3)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, t.term, t.tf, dfc.df,
        |    t.tf * ((n + 1.0) / (dfc.df + 1)) AS score
        |  FROM tf t JOIN dfc USING (term) CROSS JOIN nn),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM s)
        |SELECT doc_id, term, tf, df, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin,

    // transitive closure over the symmetric winnowing pairs; min
    // reachable node = the cluster label (matches the Spark fixpoint)
    "q83_dedup_clusters" ->
      s"""WITH RECURSIVE $WinnowingPairsCtes,
        |sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // all-pairs twin of the C=1 semantic dedup; cosine in the
    // NORMALIZED-dot form (x/|x| element division, then sum) — the
    // pipeline's arithmetic, not q47's dot/(na*nb)
    "q112_semantic_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE vec_id < 500),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(range(1, 65), i -> (a.e[i] / a.nrm) * (b.e[i] / b.nrm))) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT a, b, cosine FROM p WHERE cosine >= 0.4 ORDER BY a, b""".stripMargin,

    // Replays the hashing-trick classifier end to end: unigram+bigram
    // features, 60-bit md5 bucket hash mod 64, the md5-derived integer
    // weight table, integer sum, one final double division.
    "q113_classifier_score" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |uni AS (SELECT doc_id, unnest(t) AS f FROM tk),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS f
        |  FROM tk WHERE len(t) >= 2),
        |feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('7', '|', f)), 1, 15)) AS BIGINT) % 64 AS bucket
        |  FROM feats),
        |w AS (
        |  SELECT r.range AS bucket,
        |    (CAST(concat('0x', substring(md5(concat('11', '|', CAST(r.range AS VARCHAR))), 1, 15)) AS BIGINT) % 2001) - 1000 AS weight
        |  FROM range(64) r),
        |agg AS (
        |  SELECT doc_id, sum(weight) AS sw, count(*) AS nf
        |  FROM hb JOIN w USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, coalesce(CAST(agg.sw AS DOUBLE) / CAST(1000 * agg.nf AS DOUBLE), 0.0) AS score
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // Replays the span detector: positional 8-grams (lead window),
    // distinct-doc gram frequency, ≥2-doc gate, gaps-and-islands merge
    // of [pos, pos+7] intervals. Integer arithmetic throughout.
    "q114_dup_spans" ->
      s"""WITH $DupSpanCtes
        |SELECT doc_id, span_start, span_end, n_grams
        |FROM sp ORDER BY doc_id, span_start""".stripMargin,

    // Removal half: drop tokens covered by any span, rebuild the text
    // as the ordered space-joined survivors (string_agg ORDER BY ≡
    // sort_array over (pos, tok) structs). Every doc keeps a row.
    "q115_span_removal" ->
      s"""WITH $DupSpanCtes,
        |clean AS (
        |  SELECT tok.doc_id, tok.pos, tok.t FROM tok
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM sp WHERE sp.doc_id = tok.doc_id
        |      AND tok.pos - 1 BETWEEN sp.span_start AND sp.span_end)),
        |agg AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text
        |  FROM clean GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Replays the classifier-training count aggregate: same feature
    // CTEs as q113, labels = even doc_id, per-bucket class counts
    // completed over all 64 buckets. Integer arithmetic throughout.
    "q116_train_counts" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |uni AS (SELECT doc_id, unnest(t) AS f FROM tk),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS f
        |  FROM tk WHERE len(t) >= 2),
        |feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('7', '|', f)), 1, 15)) AS BIGINT) % 64 AS bucket
        |  FROM feats),
        |agg AS (
        |  SELECT bucket,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM hb GROUP BY 1)
        |SELECT r.range AS bucket, coalesce(pos, CAST(0 AS BIGINT)) AS pos,
        |  coalesce(neg, CAST(0 AS BIGINT)) AS neg
        |FROM range(64) r LEFT JOIN agg ON agg.bucket = r.range
        |ORDER BY bucket""".stripMargin,

    // Replays the hashed-bigram LM scorer: adjacent token pairs (a
    // struct unnest keeps the sides aligned), per-side 60-bit md5
    // bucket hashes, the md5-derived synthetic weight grid, integer
    // sum, one final double division.
    "q117_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        |  FROM tk WHERE len(t) >= 2),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('7', '|', p.w1)), 1, 15)) AS BIGINT) % 64 AS ctx,
        |    CAST(concat('0x', substring(md5(concat('7', '|', p.w2)), 1, 15)) AS BIGINT) % 64 AS tok
        |  FROM bg),
        |w AS (
        |  SELECT c.range AS ctx, k.range AS tok,
        |    -(CAST(concat('0x', substring(md5(concat('13', '|', CAST(c.range AS VARCHAR), '|', CAST(k.range AS VARCHAR))), 1, 15)) AS BIGINT) % 1401) AS weight
        |  FROM range(64) c CROSS JOIN range(64) k),
        |agg AS (
        |  SELECT doc_id, sum(weight) AS sw, count(*) AS nb
        |  FROM hb JOIN w USING (ctx, tok) GROUP BY 1)
        |SELECT d.doc_id, coalesce(CAST(agg.sw AS DOUBLE) / CAST(1000 * agg.nb AS DOUBLE), 0.0) AS lm_score
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // Replays the bigram-LM count aggregate on the same hashed pairs.
    "q118_lm_counts" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        |  FROM tk WHERE len(t) >= 2),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('7', '|', p.w1)), 1, 15)) AS BIGINT) % 64 AS ctx,
        |    CAST(concat('0x', substring(md5(concat('7', '|', p.w2)), 1, 15)) AS BIGINT) % 64 AS tok
        |  FROM bg)
        |SELECT ctx, tok, count(*) AS cnt FROM hb GROUP BY 1, 2
        |ORDER BY ctx, tok""".stripMargin,

    // Replays the paragraph-frequency gate: derived multi-line corpus,
    // per-doc-distinct md5 of non-blank lines, df ≥ 2.
    "q119_dup_paragraphs" ->
      s"""WITH $ParaDedupCtes
        |SELECT para_hash, df FROM hot ORDER BY para_hash""".stripMargin,

    // Removal half: hot lines dropped, text rebuilt as the ordered
    // newline-joined survivors (string_agg ORDER BY ≡ sort_array over
    // (pos, segment) structs). Every doc keeps a row.
    "q120_paragraph_removal" ->
      s"""WITH $ParaDedupCtes,
        |kept AS (
        |  SELECT doc_id, pos, p FROM pp
        |  WHERE md5(p) NOT IN (SELECT para_hash FROM hot)),
        |agg AS (
        |  SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM d2 d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Replays the BPE pair-count aggregate: word counts, then pairs
    // exploded from the word TABLE (vocabulary-sized). Integer
    // arithmetic throughout (DuckDB sum(BIGINT) is HUGEINT — cast).
    "q121_bpe_pair_counts" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |w AS (SELECT unnest(t) AS w FROM tk),
        |wc AS (SELECT w, count(*) AS wc FROM w GROUP BY 1),
        |pr AS (
        |  SELECT wc, unnest(list_transform(range(1, len(w)), i -> substring(w, i, 2))) AS pair
        |  FROM wc WHERE len(w) >= 2)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
        |FROM pr GROUP BY 1 ORDER BY pair""".stripMargin,

    // Replays the replace-chain BPE encoder term for term: the same
    // fixed merge list as nested replace() calls over the spaced
    // character stream, '|' word-boundary markers filtered at the end.
    "q122_bpe_encode" -> {
      val chain = BpeContractMerges.foldLeft(
        "concat(' ', regexp_replace(array_to_string(t, '|'), '(.)', '\\1 ', 'g'))") {
        case (s, (a, b)) => s"replace($s, ' $a $b ', ' ${a + b} ')"
      }
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |enc AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim($chain), ' '),
        |      x -> x <> '|' AND len(x) > 0) AS syms
        |  FROM tk)
        |SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_bpe,
        |  CAST(len(list_distinct(syms)) AS BIGINT) AS n_types
        |FROM enc ORDER BY doc_id""".stripMargin
    },

    // session_window semantics: new session at gap >= 30min (the
    // half-open [ts, ts+gap) merge rule), session_end = last + gap
    "q123_session_window" ->
      """WITH f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q124_gopher_quality" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens,
        |    CAST(len(regexp_extract_all(text, chr(10))) + 1 AS DOUBLE) AS n_lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(tokens) AS BIGINT) AS word_count,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS mean_word_len,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS symbol_ratio,
        |    CAST(len(regexp_extract_all(text, '(?m)^[-*•]')) AS DOUBLE) / n_lines AS bullet_ratio,
        |    CAST(len(regexp_extract_all(text, '(?m)(\.\.\.|…)$')) AS DOUBLE) / n_lines AS ellipsis_ratio,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS alpha_ratio,
        |    CAST(list_contains(tokens, 'the') AS BIGINT) + CAST(list_contains(tokens, 'be') AS BIGINT) + CAST(list_contains(tokens, 'to') AS BIGINT) + CAST(list_contains(tokens, 'of') AS BIGINT) + CAST(list_contains(tokens, 'and') AS BIGINT) + CAST(list_contains(tokens, 'that') AS BIGINT) + CAST(list_contains(tokens, 'have') AS BIGINT) + CAST(list_contains(tokens, 'with') AS BIGINT) AS required_hits
        |  FROM tk)
        |SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio, alpha_ratio, required_hits,
        |  CAST(word_count >= 50 AND word_count <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8 AND required_hits >= 2 AS BIGINT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // the q83 transitive closure + the q42 quality expression; keeper
    // = row_number 1 per cluster ordered quality DESC, doc_id ASC —
    // exactly the Spark side's min(struct(-quality, id)) aggregate
    "q125_keep_best_dedup" ->
      s"""WITH RECURSIVE $WinnowingPairsCtes,
        |sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
        |qtk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens
        |  FROM documents),
        |qc AS (
        |  SELECT doc_id,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio
        |  FROM qtk),
        |qq AS (
        |  SELECT doc_id,
        |    greatest(0.0, least(1.0, len_score * 0.5 + least(stop_ratio * 4.0, 1.0) * 0.5 - least(punct_ratio * 2.0, 1.0) * 0.25)) AS quality
        |  FROM qc),
        |rk AS (
        |  SELECT cc.doc_id AS doc_id, row_number() OVER (PARTITION BY cc.cluster_id ORDER BY qq.quality DESC, cc.doc_id) AS rk
        |  FROM cc JOIN qq USING (doc_id))
        |SELECT dd.doc_id, dd.lang FROM documents dd JOIN rk USING (doc_id)
        |WHERE rk.rk = 1 ORDER BY dd.doc_id""".stripMargin,
    // full probe + corpus-sized shortlist ⇒ the exact-rerank stage IS
    // brute force — same oracle as q49/q50
    "q110_ann_ivfpq" -> AnnTopkSql,
    // time-traveled v0 index at full probe + corpus shortlist = the
    // same exact-cosine closed form (see the query's comment)
    "q338_ivfpq_index_table" -> AnnTopkSql,
    // encode-appended index at full probe + corpus shortlist = the
    // same exact-cosine closed form (every row present exactly once,
    // decoded against the manifest-pinned codebook)
    "q339_ivfpq_append" -> AnnTopkSql,
    // replayed-ingest index at full probe + corpus shortlist = the
    // same closed form (the hwm made the redelivery a no-op)
    "q343_index_ingest_replay" -> AnnTopkSql,
    // vacuumed index at full probe + corpus shortlist = the same
    // closed form (retention reclaimed only unreachable history)
    "q344_ivfpq_vacuum" -> AnnTopkSql,

    // upserted corpus: odd ids answer with their REVERSED (re-sent)
    // vectors — the exact-cosine closed form over the post-upsert
    // state; queries 1 and 3 probe with their fresh vectors too
    "q340_ivfpq_upsert" ->
      """WITH v AS (
        |  SELECT vec_id, CASE WHEN vec_id % 2 = 1
        |    THEN list_reverse(list_transform(embedding, x -> CAST(x AS DOUBLE)))
        |    ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, n.vec_id AS nn_id,
        |    list_sum(list_transform(range(1, 65), i -> (n.e[i] / n.nrm) * (q.qe[i] / q.qn))) AS cosine
        |  FROM q CROSS JOIN n),
        |ranked AS (
        |  SELECT query_id, nn_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
        |  FROM scored)
        |SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // surviving corpus only (ids not ≡ 0 mod 5) — the erased ids can
    // never be candidates; the query side keeps the full probe set
    // (erasure removes documents, not the caller's probes)
    "q341_ivfpq_forget" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |nn AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM nn WHERE vec_id < 5),
        |c AS (SELECT * FROM nn WHERE vec_id % 5 <> 0),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS nn_id,
        |    list_sum(list_transform(range(1, 65), i -> (c.e[i] / c.nrm) * (q.qe[i] / q.qn))) AS cosine
        |  FROM q CROSS JOIN c),
        |ranked AS (
        |  SELECT query_id, nn_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nn_id) AS rank
        |  FROM scored)
        |SELECT query_id, nn_id, cosine, rank FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // structural facts of the drift monitor — version count, eval
    // sizes, the verdict flip, recall monotonicity — pinned as
    // literals (the q315 proof-column recipe); recall magnitudes are
    // data-dependent per SF and spec-covered instead
    "q342_ivfpq_recall_drift" ->
      """SELECT * FROM (
        |  SELECT 'n_versions' AS probe, '2' AS value
        |  UNION ALL SELECT 'threshold_ppm', '900000'
        |  UNION ALL SELECT 'v0_n_eval', '50'
        |  UNION ALL SELECT 'v0_recall_ge_v1', 'true'
        |  UNION ALL SELECT 'v0_verdict', 'ok'
        |  UNION ALL SELECT 'v1_n_eval', '50'
        |  UNION ALL SELECT 'v1_verdict', 'retrain')
        |ORDER BY probe""".stripMargin,

    // md5-bucket sample (Sampling.portableBucket): same membership set
    // in any engine with md5 — the sample itself is what's verified.
    "q63_deterministic_sample" ->
      """WITH s AS (
        |  SELECT * FROM documents
        |  WHERE CAST(concat('0x', substring(md5(concat('42', '|', CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) % 1000000 < 250000)
        |SELECT lang, count(*) AS cnt FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    // rank by the FULL 56-bit md5 prefix (hh), not the mod-1e6 bucket:
    // bucket collisions past ~1e6 rows/key would bias the kept subset
    // toward ascending ids (mirrors Sampling.capPerKey)
    "q130_cap_per_domain" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substring(md5(concat('42', '|', CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) AS hh
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, lang FROM r WHERE rn <= 50 ORDER BY doc_id""".stripMargin,

    "q131_bm25_rank" -> Bm25OracleSql,

    // the same regexp/replace chain as TextOps.stripHtml, same order:
    // script/style blocks with content, comments, tags, entity decode
    // (&amp; last), whitespace collapse
    "q132_html_strip" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              '<html><head><title>T</title><style type="text/css">p {color: red}</style><script>var x = 1 < 2 && 2 > 1;</script></head><body><h1>Head</h1><p>'
        |                || text ||
        |                '</p><!-- footer comment --><div>&amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>',
        |              '<script[^>]*>.*?</script>', ' ', 'gis'),
        |            '<style[^>]*>.*?</style>', ' ', 'gis'),
        |          '<!--.*?-->', ' ', 'gs'),
        |        '<[^>]*>', ' ', 'gs'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // chunk starts 0, 24, 48, … while start < n_tokens; 1-based
    // inclusive list slice == Spark's slice(t, start+1, 32)
    "q133_chunk_windows" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |s AS (
        |  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS start
        |  FROM tk WHERE len(t) > 0)
        |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
        |  array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text,
        |  CAST(len(t[start + 1 : start + 32]) AS BIGINT) AS n_tokens
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    // q83's transitive closure + per-cluster counts; weight is one
    // double division off an integer count
    "q134_soft_dedup_weights" ->
      s"""WITH RECURSIVE $WinnowingPairsCtes,
        |sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
        |SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
        |  CAST(1.0 AS DOUBLE) / CAST(sz.cluster_size AS DOUBLE) AS weight
        |FROM cc JOIN sz USING (cluster_id) ORDER BY cc.doc_id""".stripMargin,

    // winnowing candidates verified by exact Levenshtein, ≤ 5 edits
    "q135_edit_distance_pairs" ->
      s"""WITH $WinnowingPairsCtes,
        |v AS (
        |  SELECT p.a, p.b, levenshtein(da.text, db.text) AS dist
        |  FROM p JOIN documents da ON da.doc_id = p.a
        |         JOIN documents db ON db.doc_id = p.b)
        |SELECT a, b, CAST(dist AS BIGINT) AS dist FROM v
        |WHERE dist <= 5 ORDER BY a, b""".stripMargin,

    // same synthetic page, same line rules: terminal punctuation + ≥ 5
    // words per line, "lorem ipsum" / '{' / < 3 kept lines doc kills
    "q136_c4_clean" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    'Header' || chr(10) || text || '.' || chr(10) ||
        |    'This is a sentence with enough words.' || chr(10) ||
        |    'Click here to subscribe now today' || chr(10) ||
        |    'Another good sentence appears right here.' ||
        |    CASE WHEN doc_id % 13 = 3 THEN chr(10) || 'Our catalog of lorem ipsum samples ships today.' ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 5 THEN chr(10) || 'function f() { return 1; }' ELSE '' END AS text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]$') AND
        |      len(list_filter(string_split_regex(lower(l), '[^a-z0-9]+'), x -> len(x) > 0)) >= 5) AS kept,
        |    len(string_split(text, chr(10))) AS total
        |  FROM page
        |  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{'))
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(total - len(kept) AS BIGINT) AS n_dropped
        |FROM f WHERE len(kept) >= 3 ORDER BY doc_id""".stripMargin,

    // the identical 9-step regexp chain ('g' everywhere — Spark
    // regexp_replace is always global), then group on the canonical
    "q137_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id, 'HTTPS://WWW.' || source || '.Example.COM' ||
        |    CASE doc_id % 6
        |      WHEN 0 THEN ':443/Docs/' || CAST(doc_id % 25 AS VARCHAR) || '/'
        |      WHEN 1 THEN '/Docs/' || CAST(doc_id % 25 AS VARCHAR) || '?utm_source=news&page=' || CAST(doc_id % 3 AS VARCHAR)
        |      WHEN 2 THEN '/Docs/' || CAST(doc_id % 25 AS VARCHAR) || '?page=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=summer'
        |      WHEN 3 THEN '/Docs/' || CAST(doc_id % 25 AS VARCHAR) || '#frag'
        |      WHEN 4 THEN ':80/Docs/' || CAST(doc_id % 25 AS VARCHAR) || '?utm_medium=email'
        |      ELSE '/Docs/' || CAST(doc_id % 25 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '#.*$', '', 'g'),
        |      '(utm_[a-z0-9]+|fbclid|gclid|mc_eid|ref)=[^&#]*&', '', 'g'),
        |      '[?&](utm_[a-z0-9]+|fbclid|gclid|mc_eid|ref)=[^&#]*$', '', 'g'),
        |      '^https?://', '', 'g'),
        |      '^www\.', '', 'g'),
        |      ':(80|443)/', '/', 'g'),
        |      ':(80|443)$', '', 'g'),
        |      '\?$', '', 'g'),
        |      '/+$', '', 'g') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, count(*) AS n_urls, min(doc_id) AS keep_doc_id
        |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    // q117's LM-score CTEs, then plain per-lang ntile(3) on
    // (lm_score DESC, doc_id) — the distributed ntileByKey must agree
    // rank for rank
    "q138_ppl_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        |  FROM tk WHERE len(t) >= 2),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('7', '|', p.w1)), 1, 15)) AS BIGINT) % 64 AS ctx,
        |    CAST(concat('0x', substring(md5(concat('7', '|', p.w2)), 1, 15)) AS BIGINT) % 64 AS tok
        |  FROM bg),
        |w AS (
        |  SELECT c.range AS ctx, k.range AS tok,
        |    -(CAST(concat('0x', substring(md5(concat('13', '|', CAST(c.range AS VARCHAR), '|', CAST(k.range AS VARCHAR))), 1, 15)) AS BIGINT) % 1401) AS weight
        |  FROM range(64) c CROSS JOIN range(64) k),
        |agg AS (
        |  SELECT doc_id, sum(weight) AS sw, count(*) AS nb
        |  FROM hb JOIN w USING (ctx, tok) GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(CAST(agg.sw AS DOUBLE) / CAST(1000 * agg.nb AS DOUBLE), 0.0) AS lm_score
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |t3 AS (
        |  SELECT doc_id, lang, lm_score,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id) AS tile
        |  FROM scored)
        |SELECT doc_id, lang, lm_score,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM t3 ORDER BY doc_id""".stripMargin,

    // q113's feature CTEs under the DSIR synthetic ratio table
    // (seed 17, ±700 milli-log-ratio), importance rank ≤ 200
    "q139_dsir_select" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
        |uni AS (SELECT doc_id, unnest(t) AS f FROM tk),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS f
        |  FROM tk WHERE len(t) >= 2),
        |feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('7', '|', f)), 1, 15)) AS BIGINT) % 64 AS bucket
        |  FROM feats),
        |w AS (
        |  SELECT r.range AS bucket,
        |    (CAST(concat('0x', substring(md5(concat('17', '|', CAST(r.range AS VARCHAR))), 1, 15)) AS BIGINT) % 1401) - 700 AS weight
        |  FROM range(64) r),
        |agg AS (
        |  SELECT doc_id, sum(weight) AS sw, count(*) AS nf
        |  FROM hb JOIN w USING (bucket) GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id,
        |    coalesce(CAST(agg.sw AS DOUBLE) / 1000.0, 0.0) AS importance,
        |    CAST(coalesce(agg.nf, 0) AS BIGINT) AS n_features
        |  FROM documents d LEFT JOIN agg USING (doc_id)),
        |r AS (
        |  SELECT doc_id, importance, n_features,
        |    row_number() OVER (ORDER BY importance DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT doc_id, importance, n_features FROM r
        |WHERE rn <= 200 ORDER BY doc_id""".stripMargin,

    // the identical cleanup chain: direct replaces (curly quotes,
    // dashes, ellipsis, NBSP), zero-width strip, C0 strip, space
    // collapse — invisibles spelled chr() so the SQL stays readable
    "q146_text_cleanup" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        replace(replace(replace(replace(replace(replace(replace(replace(
        |          text || ' “quoted” ‘s’ – a—b… x' || chr(160) || 'y z' || chr(8203) || 'w' || chr(7) || 'end' || chr(9) || 'q  r',
        |          '“', '"'), '”', '"'), '‘', ''''), '’', ''''), '–', '-'), '—', '-'), '…', '...'), chr(160), ' '),
        |        '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
        |      '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // canonicalize (the q137 chain on a simpler URL), host extract,
    // blocklist anti-filter, survivors per domain
    "q147_domain_blocklist" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    regexp_extract(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        lower('HTTPS://WWW.' || source || '.Example.COM/p/' || CAST(doc_id % 50 AS VARCHAR)),
        |        '#.*$', '', 'g'),
        |        '(utm_[a-z0-9]+|fbclid|gclid|mc_eid|ref)=[^&#]*&', '', 'g'),
        |        '[?&](utm_[a-z0-9]+|fbclid|gclid|mc_eid|ref)=[^&#]*$', '', 'g'),
        |        '^https?://', '', 'g'),
        |        '^www\.', '', 'g'),
        |        ':(80|443)/', '/', 'g'),
        |        ':(80|443)$', '', 'g'),
        |        '\?$', '', 'g'),
        |        '/+$', '', 'g'),
        |      '^[^/:?#]+') AS domain
        |  FROM documents)
        |SELECT domain, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM c
        |WHERE domain NOT IN ('src3.example.com', 'src7.example.com', 'src12.example.com')
        |GROUP BY 1 ORDER BY domain""".stripMargin,

    // √n quantized to int64 milli-units; largest-remainder seats by
    // (remainder DESC, lang) — all-integer apportionment
    "q140_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |q AS (
        |  SELECT lang, n_docs,
        |    CAST(round(1000 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s
        |  FROM c),
        |t AS (SELECT CAST(sum(s) AS BIGINT) AS stot FROM q),
        |a AS (
        |  SELECT lang, n_docs, s, stot,
        |    (300 * s) // stot AS fl, (300 * s) % stot AS rmd
        |  FROM q CROSS JOIN t),
        |sp AS (SELECT 300 - CAST(sum(fl) AS BIGINT) AS spare FROM a),
        |r AS (
        |  SELECT lang, n_docs, s, stot, fl,
        |    row_number() OVER (ORDER BY rmd DESC, lang) AS rr
        |  FROM a)
        |SELECT lang, n_docs, CAST(s AS DOUBLE) / CAST(stot AS DOUBLE) AS share,
        |  CAST(fl + CASE WHEN rr <= (SELECT spare FROM sp) THEN 1 ELSE 0 END AS BIGINT) AS target_docs
        |FROM r ORDER BY lang""".stripMargin,

    // q122's replace-chain encoder aggregated per lang: integer token/
    // word/char sums, two final divisions
    "q142_token_fertility" -> {
      val chain = BpeContractMerges.foldLeft(
        "concat(' ', regexp_replace(array_to_string(t, '|'), '(.)', '\\1 ', 'g'))") {
        case (s, (a, b)) => s"replace($s, ' $a $b ', ' ${a + b} ')"
      }
      s"""WITH tk AS (
        |  SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t,
        |    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS nc
        |  FROM documents),
        |enc AS (
        |  SELECT lang, len(t) AS nw, nc,
        |    len(list_filter(string_split(trim($chain), ' '),
        |      x -> x <> '|' AND len(x) > 0)) AS nb
        |  FROM tk WHERE len(t) > 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_bpe,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) AS fertility,
        |  CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE) AS chars_per_token
        |FROM enc GROUP BY lang ORDER BY lang""".stripMargin
    },

    // the winnowing pair CTEs at threshold 1, labeled by overlap
    "q143_contrastive_pairs" ->
      s"""WITH ${winnowingPairsCtes("", 1)}
        |SELECT a, b, n_shared,
        |  CASE WHEN n_shared >= 3 THEN 'positive' ELSE 'hard_negative' END AS label
        |FROM p ORDER BY a, b""".stripMargin,

    // the q45 signature/band CTEs, match counting over the 16 hash
    // positions, exact Jaccard with NO threshold, one division each
    "q144_sketch_calibration" -> {
      val k = 16; val bands = 4; val r = k / bands
      val hCols = (0 until k).map(i => s"min(ha + $i * hb) AS h$i").mkString(",\n    ")
      val bandSelects = (0 until bands).map { b =>
        val parts = (0 until r).map(i => s"h${b * r + i}").mkString(", '|', ")
        s"SELECT doc_id, $b AS band, md5(concat('$b', '|', $parts)) AS bh FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      val matchSum = (0 until k).map(i =>
        s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(tokens) >= 3 THEN list_distinct(list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))) ELSE [] END AS s FROM tk),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hx AS (SELECT doc_id,
        |    CAST(concat('0x', substring(md5(concat('0', '|', g)), 1, 14)) AS BIGINT) AS ha,
        |    CAST(concat('0x', substring(md5(concat('0', '|', g)), 17, 14)) AS BIGINT) AS hb
        |  FROM ex),
        |sig AS (SELECT doc_id,
        |    $hCols
        |  FROM hx GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT ba.doc_id AS a, bb.doc_id AS b FROM bands ba
        |  JOIN bands bb ON ba.band = bb.band AND ba.bh = bb.bh AND ba.doc_id < bb.doc_id
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT c.a, c.b, CAST($matchSum AS BIGINT) AS n_match
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b),
        |sized AS (SELECT doc_id, s, len(s) AS n FROM sh),
        |pairs AS (
        |  SELECT m.a, m.b, m.n_match, len(list_intersect(sa.s, sb.s)) AS inter, sa.n AS na, sb.n AS nb
        |  FROM m JOIN sized sa ON sa.doc_id = m.a JOIN sized sb ON sb.doc_id = m.b),
        |j AS (
        |  SELECT a, b, n_match,
        |    CAST(n_match AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard,
        |    CASE WHEN na + nb - inter = 0 THEN 0.0
        |      ELSE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) END AS jaccard
        |  FROM pairs)
        |SELECT a, b, n_match, est_jaccard, jaccard,
        |  abs(est_jaccard - jaccard) AS abs_err
        |FROM j ORDER BY a, b""".stripMargin
    },

    // each version's mutation replayed arithmetically: v0 base, v1
    // +100 on custkey%7, v2 additionally dropping custkey%5
    "q145_time_travel" ->
      """WITH v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |  FROM customer),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT), count(*),
        |    CAST(sum(CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS DECIMAL(18,4))) AS DOUBLE)
        |  FROM customer),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT), count(*),
        |    CAST(sum(CAST(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS DECIMAL(18,4))) AS DOUBLE)
        |  FROM customer WHERE c_custkey % 5 <> 0)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |ORDER BY version""".stripMargin,

    // each stage's established oracle fragment composed: q124 gate,
    // q141 diversity, q39 fingerprint keep-min, q42 quality, q129
    // rank-and-cumsum budget rule
    "q156_curation_v2" ->
      s"""WITH tk0 AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens,
        |    CAST(len(regexp_extract_all(text, chr(10))) + 1 AS DOUBLE) AS n_lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, tokens,
        |    CAST(len(tokens) AS BIGINT) AS wc,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS mwl,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS sym,
        |    CAST(len(regexp_extract_all(text, '(?m)^[-*•]')) AS DOUBLE) / n_lines AS blr,
        |    CAST(len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)$$')) AS DOUBLE) / n_lines AS elr,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS awr,
        |    CAST(list_contains(tokens, 'the') AS BIGINT) + CAST(list_contains(tokens, 'be') AS BIGINT) + CAST(list_contains(tokens, 'to') AS BIGINT) + CAST(list_contains(tokens, 'of') AS BIGINT) + CAST(list_contains(tokens, 'and') AS BIGINT) + CAST(list_contains(tokens, 'that') AS BIGINT) + CAST(list_contains(tokens, 'have') AS BIGINT) + CAST(list_contains(tokens, 'with') AS BIGINT) AS rwh
        |  FROM tk0),
        |s1 AS (
        |  SELECT doc_id, text, tokens FROM m
        |  WHERE wc >= 50 AND wc <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |    AND sym <= 0.1 AND blr <= 0.9 AND elr <= 0.3 AND awr >= 0.8),
        |ch AS (
        |  SELECT doc_id, substring(text, CAST(i AS INT), 1) AS c
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i FROM s1)),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |dvr AS (SELECT doc_id, sum(k * (k - 1)) AS s2, sum(k) AS n FROM cnt GROUP BY 1),
        |s2 AS (
        |  SELECT s1.doc_id, s1.text, s1.tokens FROM s1 JOIN dvr USING (doc_id)
        |  WHERE (1.0 - CAST(dvr.s2 AS DOUBLE) / CAST(dvr.n * (dvr.n - 1) AS DOUBLE)) BETWEEN 0.5 AND 0.98),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM s2
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
        |c AS (
        |  SELECT s2.doc_id,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    CAST(len(tokens) AS BIGINT) AS tok
        |  FROM s2 JOIN keep USING (doc_id)),
        |q AS (
        |  SELECT doc_id, tok,
        |    greatest(0.0, least(1.0, len_score * 0.5 + least(stop_ratio * 4.0, 1.0) * 0.5 - least(punct_ratio * 2.0, 1.0) * 0.25)) AS quality
        |  FROM c),
        |cum AS (
        |  SELECT doc_id, tok, quality,
        |    sum(tok) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM q)
        |SELECT doc_id, tok, quality FROM cum
        |WHERE cm - tok < 10000 ORDER BY doc_id""".stripMargin,

    // plain per-flag ntile(10) on (price DESC, rid), deciles 2-9,
    // decimal-exact mean
    "q153_trimmed_mean" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    ntile(10) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS tile
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_kept,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS trimmed_mean
        |FROM t WHERE tile > 1 AND tile < 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the diff classes replayed arithmetically from the v0->v1
    // construction: removed = %10=0, changed = survivors with %7=1,
    // added = %13=2 (offset ids), unchanged = the rest
    "q154_snapshot_diff" ->
      """SELECT 'added' AS change_type, count(*) AS n FROM documents WHERE doc_id % 13 = 2
        |UNION ALL
        |SELECT 'changed', count(*) FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 = 1
        |UNION ALL
        |SELECT 'removed', count(*) FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT 'unchanged', count(*) FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 1
        |ORDER BY change_type""".stripMargin,

    // the q114/q115 span machinery at gramLen 5 with the hot gate
    // swapped for benchmark membership (doc_id % 17 = 0), then the
    // q115 removal: ordered surviving-token rebuild
    "q151_decontaminate_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(tokens) AS t, unnest(range(1, len(tokens) + 1)) AS pos FROM tk),
        |g AS (
        |  SELECT doc_id, pos - 1 AS pos0,
        |    CAST(concat('0x', substring(md5(concat('0', '|',
        |      concat_ws(' ', t, lead(t, 1) OVER w, lead(t, 2) OVER w,
        |                lead(t, 3) OVER w, lead(t, 4) OVER w))), 1, 15)) AS BIGINT) AS hh,
        |    lead(t, 4) OVER w IS NOT NULL AS fullgram
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |gg AS (SELECT doc_id, pos0, hh FROM g WHERE fullgram),
        |hot AS (SELECT DISTINCT hh FROM gg WHERE doc_id % 17 = 0),
        |dup AS (SELECT gg.doc_id, gg.pos0 FROM gg JOIN hot USING (hh)),
        |brk AS (
        |  SELECT doc_id, pos0,
        |    CASE WHEN max(pos0) OVER (PARTITION BY doc_id ORDER BY pos0
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 5 >= pos0
        |         THEN 0 ELSE 1 END AS is_new
        |  FROM dup),
        |isl AS (
        |  SELECT doc_id, pos0,
        |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos0
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk),
        |sp AS (
        |  SELECT doc_id, min(pos0) AS span_start, max(pos0) + 4 AS span_end
        |  FROM isl GROUP BY doc_id, island),
        |clean AS (
        |  SELECT tok.doc_id, tok.pos, tok.t FROM tok
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM sp WHERE sp.doc_id = tok.doc_id
        |      AND tok.pos - 1 BETWEEN sp.span_start AND sp.span_end)),
        |agg AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text
        |  FROM clean GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the five PageRank rounds unrolled: distinct edges, window
    // out-degree, damped floor-div contributions, left-join base —
    // integer arithmetic end to end
    "q150_pagerank" -> {
      val rounds = (1 to 5).map { i =>
        s"""m$i AS (
           |  SELECT n.id, CAST(150000 + coalesce(s.c, 0) AS BIGINT) AS mass
           |  FROM n LEFT JOIN (
           |    SELECT d.dst AS id, sum((m.mass * 85) // 100 // d.outdeg) AS c
           |    FROM deg d JOIN m${i - 1} m ON m.id = d.src GROUP BY 1) s USING (id))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (
        |  SELECT doc_id % 101 AS src, (doc_id * 31 + 7) % 101 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 101, (doc_id * 57 + 13) % 101 FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM raw),
        |deg AS (SELECT src, dst, count(*) OVER (PARTITION BY src) AS outdeg FROM e),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |m0 AS (SELECT id, CAST(1000000 AS BIGINT) AS mass FROM n),
        |$rounds
        |SELECT id AS node, mass FROM m5 ORDER BY node""".stripMargin
    },

    // the same RANGE frame on epoch micros: integer boundary, ties are
    // peers, decimal-exact value sum
    "q148_rolling_hour" ->
      """SELECT event_id, user_id, ts,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // plain per-lang ntile(100) on (n_chars DESC, doc_id); the
    // distributed ntileByKey must agree band for band
    "q149_length_outliers" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    ntile(100) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS pct_band
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, pct_band,
        |  (pct_band <= 2 OR pct_band >= 99) AS is_outlier
        |FROM t ORDER BY doc_id""".stripMargin,

    // per-character counts via positional substring (code-POINT chars,
    // matching Spark's split on the ASCII fixture), unbiased Simpson
    "q141_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, substring(text, CAST(i AS INT), 1) AS c
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i FROM documents)),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, sum(k * (k - 1)) AS s2, sum(k) AS n, count(*) AS kk
        |  FROM cnt GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(agg.n, 0) AS BIGINT) AS n_chars_counted,
        |  CAST(coalesce(agg.kk, 0) AS BIGINT) AS distinct_chars,
        |  CASE WHEN coalesce(agg.n, 0) < 2 THEN 0.0
        |    ELSE 1.0 - CAST(agg.s2 AS DOUBLE) / CAST(agg.n * (agg.n - 1) AS DOUBLE)
        |  END AS char_diversity
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // d2/pp from the paragraph CTEs (dp/hot unused here): first
    // occurrence per (doc, line), blanks always kept, ordered rebuild
    "q128_within_doc_lines" ->
      s"""WITH $ParaDedupCtes,
        |r AS (
        |  SELECT doc_id, p, pos,
        |    row_number() OVER (PARTITION BY doc_id, md5(p) ORDER BY pos) AS rn
        |  FROM pp),
        |agg AS (
        |  SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS clean_text
        |  FROM r WHERE trim(p) = '' OR rn = 1 GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
        |FROM d2 d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q129_token_budget" ->
      s"""WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    CAST(len(tokens) AS BIGINT) AS tok
        |  FROM tk),
        |q AS (
        |  SELECT doc_id, tok,
        |    greatest(0.0, least(1.0, len_score * 0.5 + least(stop_ratio * 4.0, 1.0) * 0.5 - least(punct_ratio * 2.0, 1.0) * 0.25)) AS quality
        |  FROM c),
        |cum AS (
        |  SELECT doc_id, tok, quality,
        |    sum(tok) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM q)
        |SELECT doc_id, tok, quality FROM cum
        |WHERE c - tok < 15000 ORDER BY doc_id""".stripMargin,

    // chr(769) = U+0301 combining acute, chr(778) = U+030A combining
    // ring — the same decomposed suffix the Spark side appends
    "q127_nfc_normalize" ->
      """SELECT doc_id, nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // shard from the mod-1e6 bucket; ORDER from the full 56-bit md5
    // prefix (hh) — bucket collisions past ~1e6 rows would degrade the
    // shuffle order toward ascending-key (mirrors shuffleIntoShards)
    "q126_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substring(md5(concat('42', '|', CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) AS hh
        |  FROM documents)
        |SELECT doc_id, lang, (hh % 1000000) % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY (hh % 1000000) % 8 ORDER BY hh, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,

    // sequential Poisson replay: same 56-bit u, same IEEE double
    // division (correctly rounded in both engines), same tie-break —
    // the winning set AND the audit column hash-match
    "q160_pps_sample" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    CAST(concat('0x', substring(md5(concat_ws('|', '42', CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) AS u
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT * FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(u AS DOUBLE) / CAST(n_chars AS DOUBLE) AS pps
        |  FROM h ORDER BY pps, doc_id LIMIT 200)
        |ORDER BY doc_id""".stripMargin,

    "q69_interval_join" ->
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND b.ts >= a.ts - INTERVAL 5 MINUTE AND b.ts <= a.ts
        |  AND b.event_id <> a.event_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q68_packing_by_lang" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS tok
        |  FROM documents)
        |SELECT doc_id, lang, tok,
        |  CAST(floor(CAST(sum(tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS DOUBLE) / 512) AS BIGINT) AS bin_id
        |FROM t ORDER BY doc_id""".stripMargin,

    // parallel unnests zip positionally in DuckDB, giving (value, dim)
    "q74_embedding_centroids" ->
      """WITH e AS (
        |  SELECT vec_id % 4 AS grp,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
        |    unnest(range(1, len(embedding) + 1)) AS dim
        |  FROM embeddings)
        |SELECT grp, dim, CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m
        |FROM e GROUP BY grp, dim ORDER BY grp, dim""".stripMargin,

    "q75_media_resize" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    array_to_string(list_transform(range(1, length(text) + 1, 4),
        |      i -> substring(text, CAST(i AS INTEGER), 1)), '') AS thumb,
        |    length(text) % 1024 + 1 AS w0, length(text) % 768 + 1 AS h0
        |  FROM documents)
        |SELECT media_id, md5(thumb) AS thumb_md5,
        |  CAST(length(thumb) AS BIGINT) AS out_chars,
        |  greatest(CAST(floor(w0 / 2.0) AS BIGINT), 1) AS width,
        |  greatest(CAST(floor(h0 / 2.0) AS BIGINT), 1) AS height
        |FROM s ORDER BY media_id""".stripMargin,

    "q62_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS tok
        |  FROM documents)
        |SELECT doc_id, tok,
        |  CAST(floor(CAST(sum(tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS DOUBLE) / 512) AS BIGINT) AS bin_id
        |FROM t ORDER BY doc_id""".stripMargin,

    // Count-min replay: identical md5 halves → 2-universal buckets →
    // counter matrix → min-of-depth estimate per distinct value
    "q95_heavy_hitters" -> CmDirectOracleSql,
    // shard counter matrices summed elementwise == the direct matrix
    // (counts are additive), so the merged estimates replay q95's
    // direct oracle verbatim
    "q155_cm_merge" -> CmDirectOracleSql,

    // Bloom replay: identical md5 halves → k = 4 bit positions mod
    // 1024 → distinct set-bit set (shard-split is invisible to the
    // oracle — OR-merge is lossless by construction) → probe counts
    // per hash index, all-4-set = maybe present. False positives
    // replay identically; inserted keys (event user ids ⊂ customer
    // keys) must all probe 1 — the no-false-negative law.
    "q158_bloom_merge" ->
      """WITH v AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS val FROM events),
        |h AS (SELECT val,
        |  CAST(concat('0x', substring(md5(concat_ws('|', '42', val)), 1, 14)) AS BIGINT) AS a,
        |  CAST(concat('0x', substring(md5(concat_ws('|', '42', val)), 17, 14)) AS BIGINT) AS b
        |  FROM v),
        |pos AS (SELECT DISTINCT (a + i * b) % 1024 AS p FROM h, range(4) t(i)),
        |pr AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS val FROM customer),
        |ph AS (SELECT val,
        |  CAST(concat('0x', substring(md5(concat_ws('|', '42', val)), 1, 14)) AS BIGINT) AS a,
        |  CAST(concat('0x', substring(md5(concat_ws('|', '42', val)), 17, 14)) AS BIGINT) AS b
        |  FROM pr),
        |ppos AS (SELECT val, i, (a + i * b) % 1024 AS p FROM ph, range(4) t(i)),
        |hits AS (SELECT val, count(*) AS hit FROM ppos JOIN pos USING (p) GROUP BY val)
        |SELECT CAST(pr.val AS BIGINT) AS c_custkey,
        |  CAST(CASE WHEN coalesce(hit, 0) = 4 THEN 1 ELSE 0 END AS BIGINT) AS maybe_present
        |FROM pr LEFT JOIN hits USING (val)
        |ORDER BY c_custkey""".stripMargin,

    // incremental refresh law: merged (base, delta) state == direct
    // recompute — the oracle IS the direct recompute with the same
    // decimal-exact sums
    "q159_incremental_mv" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_quantity,
        |  min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_extendedprice,
        |  min(l_extendedprice) AS min_l_extendedprice,
        |  max(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bloom filter only PRUNES — the verifying join makes the
    // result exactly the plain join, which is the oracle
    "q96_bloom_join" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 15
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // single-space split + list_distinct mirror the Spark token stream
    "q97_repetition" ->
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, w,
        |  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g FROM l)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
        |  CAST(len(g) AS BIGINT) AS n_bigrams,
        |  CASE WHEN len(g) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE)
        |  END AS dup_bigram_frac
        |FROM b ORDER BY doc_id""".stripMargin,

    // the salt is invisible in the result: plain equi-join oracle
    "q98_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bloom split is invisible in the result: anti-join by the q39
    // fingerprint. Written as LEFT JOIN … IS NULL (not NOT IN) so a
    // NULL corpus fingerprint can never collapse the result to zero
    // rows — NULL-robust exactly like the Spark side's left_anti.
    "q99_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |corpus AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id, lang, f FROM fp WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, lang, f FROM fp WHERE doc_id % 3 = 0)
        |SELECT b.doc_id, b.lang FROM batch b
        |LEFT JOIN corpus c ON b.f = c.f
        |WHERE c.f IS NULL
        |ORDER BY b.doc_id""".stripMargin,

    // the q44 n-gram machinery at n=5; benchmark shingles drawn from
    // the same exploded stream (the benchmark IS a corpus slice here)
    "q100_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(tokens) >= 5 THEN list_transform(range(1, len(tokens) - 3), i -> array_to_string(tokens[i:i+4], ' ')) ELSE [] END AS s FROM tk),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 17 = 0)
        |SELECT e.doc_id, count(DISTINCT e.g) AS n_hits
        |FROM ex e JOIN bench b ON e.g = b.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q107_incremental_neardup" -> IncrementalMinhashOracleSql,

    // per-stratum md5 bucket, exact integer thresholds (q63 recipe)
    "q104_stratified_sample" ->
      """WITH s AS (
        |  SELECT * FROM documents
        |  WHERE CAST(concat('0x', substring(md5(concat('42', '|', CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) % 1000000
        |    < (CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 1000000 END))
        |SELECT lang, count(*) AS cnt FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    // per-domain thresholds replayed from the data: the same IEEE
    // double formula floor(min(1, w·B/n)·1e6) over the same counts,
    // weights CAST to DOUBLE (DuckDB parses bare 0.5 as DECIMAL, whose
    // arithmetic would diverge from Spark's doubles)
    "q111_domain_mix" ->
      """WITH w(lang, w) AS (VALUES
        |    ('en', CAST(0.5 AS DOUBLE)), ('zh', CAST(0.3 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE))),
        |cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |thr AS (
        |  SELECT c.lang,
        |    CAST(floor(least(CAST(1 AS DOUBLE), COALESCE(w.w, CAST(0 AS DOUBLE)) * 300 / c.n) * 1000000) AS BIGINT) AS t
        |  FROM cnt c LEFT JOIN w ON c.lang = w.lang),
        |s AS (
        |  SELECT d.lang FROM documents d JOIN thr ON d.lang = thr.lang
        |  WHERE CAST(concat('0x', substring(md5(concat('42', '|', CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) % 1000000 < thr.t)
        |SELECT lang, count(*) AS cnt FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    // the q83 transitive closure labels clusters; the split is the md5
    // bucket of the CLUSTER id against the exact 0.8 threshold
    "q105_leakage_split" ->
      s"""WITH RECURSIVE ${winnowingPairsCtes(" WHERE doc_id % 2 = 0")},
        |sym AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
        |reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents WHERE doc_id % 2 = 0
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id
        |       FROM reach GROUP BY src)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN CAST(concat('0x', substring(md5(concat('42', '|', CAST(cluster_id AS VARCHAR))), 1, 14)) AS BIGINT) % 1000000 < 800000
        |       THEN 'train' ELSE 'holdout' END AS split
        |FROM cc ORDER BY doc_id""".stripMargin
  )
}
