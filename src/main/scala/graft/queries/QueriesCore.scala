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

/** Reference-surface tier (q01-q60): predicate DSL, retrieval,
  * mutations, raw SQL, catalog/DDL, REST extraction, plus the first
  * dedup/text/ANN/media operators.
  * One `queries` entry per operator, one `oracleSql` ANSI-SQL twin per
  * oracle-expressible entry; merged into the gate by [[SparkEntry]]. */
private[graft] object QueriesCore {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ----------------------------------------------------- D5/S7 aggregates
    "q01_count" -> ((s, d) =>
      T(s, d, "lineitem").agg(count(lit(1)).as("cnt"))),

    "q02_count_min_max" -> ((s, d) =>
      T(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))),

    // ----------------------------------------------------- D11 predicate DSL
    "q03_pred_eq" -> ((s, d) =>
      Query.get(T(s, d, "customer"),
        columns = Seq("c_custkey", "c_name", "c_acctbal"),
        where = Seq(Pred.Eq("c_mktsegment", "BUILDING")),
        sortBy = Seq(SortKey("c_custkey")))),

    "q04_pred_in" -> ((s, d) =>
      Query.get(T(s, d, "lineitem"),
        columns = Seq("l_orderkey", "l_linenumber", "l_returnflag"),
        where = Seq(Pred.In("l_returnflag", Seq("A", "R"))),
        sortBy = Seq(SortKey("l_orderkey"), SortKey("l_linenumber")))),

    "q05_pred_notin" -> ((s, d) =>
      Query.get(T(s, d, "orders"),
        where = Seq(Pred.NotIn("o_orderstatus", Seq("F", "P"))))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus"))),

    "q06_pred_like" -> ((s, d) =>
      Query.get(T(s, d, "part"),
        columns = Seq("p_partkey", "p_name", "p_type"),
        where = Seq(Pred.Like("p_name", "%widget%")),
        sortBy = Seq(SortKey("p_partkey")))),

    "q07_pred_notlike" -> ((s, d) =>
      Query.get(T(s, d, "part"),
        columns = Seq("p_partkey", "p_name"),
        where = Seq(Pred.NotLike("p_name", "%o%")),
        sortBy = Seq(SortKey("p_partkey")))),

    "q08_pred_isnull" -> ((s, d) =>
      Query.get(
        T(s, d, "orders").withColumn("st",
          when(col("o_orderstatus") === "F", lit(null).cast("string"))
            .otherwise(col("o_orderstatus"))),
        where = Seq(Pred.IsNull("st")))
        .agg(count(lit(1)).as("cnt"))),

    "q09_pred_isnotnull" -> ((s, d) =>
      Query.get(
        T(s, d, "orders").withColumn("st",
          when(col("o_orderstatus") === "F", lit(null).cast("string"))
            .otherwise(col("o_orderstatus"))),
        where = Seq(Pred.IsNotNull("st")))
        .groupBy(col("st")).agg(count(lit(1)).as("cnt")).orderBy(col("st"))),

    "q10_pred_between" -> ((s, d) =>
      Query.get(T(s, d, "lineitem"),
        where = Seq(Pred.Between("l_shipdate", "1996-01-01", "1996-12-31")))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))),

    "q11_pred_notbetween" -> ((s, d) =>
      Query.get(T(s, d, "lineitem"),
        where = Seq(Pred.NotBetween("l_quantity", 10, 40)))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_linestatus"))),

    "q12_pred_passthrough" -> ((s, d) =>
      Query.get(T(s, d, "customer"),
        columns = Seq("c_custkey", "c_acctbal"),
        where = Seq(
          Pred.Op("c_acctbal", ">", 1000),
          Pred.Op("c_acctbal", "<=", 9000),
          Pred.Op("c_nationkey", "!=", 3)),
        sortBy = Seq(SortKey("c_custkey")))),

    "q13_pred_regexp" -> ((s, d) =>
      Query.get(T(s, d, "part"),
        columns = Seq("p_partkey", "p_name"),
        where = Seq(Pred.Op("p_name", "~", "^[bc].*t$")),
        sortBy = Seq(SortKey("p_partkey")))),

    // ----------------------------------------------------- D12 scan pipeline
    "q14_get_pipeline" -> ((s, d) =>
      Query.get(T(s, d, "orders"),
        columns = Seq("o_orderkey", "o_custkey", "o_totalprice"),
        where = Seq(Pred.Eq("o_orderstatus", "O")),
        sortBy = Seq(SortKey("o_totalprice", ascending = false), SortKey("o_orderkey")),
        limit = 20, offset = 5)),

    "q15_topk" -> ((s, d) =>
      Query.get(T(s, d, "customer"),
        columns = Seq("c_custkey", "c_name", "c_acctbal"),
        sortBy = Seq(SortKey("c_acctbal", ascending = false), SortKey("c_custkey")),
        limit = 10)),

    // ----------------------------------------------------- D8 upsert (merge)
    "q16_upsert_coalesce" -> ((s, d) => {
      val c = T(s, d, "customer")
      val mutated = c.filter(col("c_custkey") % 7 === 0).select(
        col("c_custkey"), lit(null).cast("string").as("c_name"),
        col("c_nationkey"), (col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"))
      val fresh = c.filter(col("c_custkey") % 11 === 0).select(
        (col("c_custkey") + 10000000L).as("c_custkey"),
        concat(lit("new-"), col("c_custkey").cast("string")).as("c_name"),
        lit(0).as("c_nationkey"), lit(0.0).as("c_acctbal"),
        lit("NEW").as("c_mktsegment"))
      Mutations.upsert(c, mutated.unionByName(fresh), Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    "q17_upsert_overwrite" -> ((s, d) => {
      val c = T(s, d, "customer")
      val mutated = c.filter(col("c_custkey") % 7 === 0).select(
        col("c_custkey"), lit(null).cast("string").as("c_name"),
        col("c_nationkey"), (col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"))
      Mutations.upsert(c, mutated, Seq("c_custkey"), overwriteWithNull = true)
        .orderBy(col("c_custkey"))
    }),

    // ----------------------------------------------------- D13 keyed update
    "q18_update_keyed" -> ((s, d) => {
      val c = T(s, d, "customer")
      val changes = c.filter(col("c_nationkey") === 5).select(
        col("c_custkey"), lit("UPDATED").as("c_mktsegment"),
        (col("c_acctbal") * 2).as("c_acctbal"))
      Mutations.update(c, changes, Seq("c_custkey")).orderBy(col("c_custkey"))
    }),

    // ----------------------------------------------------- D14 delete
    "q19_delete_pred" -> ((s, d) =>
      Mutations.delete(T(s, d, "orders"), Seq(
        Pred.Between("o_totalprice", 50000, 200000),
        Pred.Eq("o_orderstatus", "F")))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // ----------------------------------------------------- D15 raw SQL
    "q20_sql_q1" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q1Sql) }),
    "q21_sql_q3" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q3Sql) }),
    "q56_sql_q5" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q5Sql) }),
    "q57_subquery_corr" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, SubquerySql) }),
    "q58_grouping_sets" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, GroupingSetsSql) }),

    // TPC-H remainder through D15 (r12 verdict item 3) — the same SQL
    // string is the oracle; see QueryHelpers for per-query shape notes.
    "q318_sql_q2" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q2Sql) }),
    "q319_sql_q4" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q4Sql) }),
    "q320_sql_q7" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q7Sql) }),
    "q321_sql_q8" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q8Sql) }),
    "q322_sql_q9" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q9Sql) }),
    "q323_sql_q11" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q11Sql) }),
    // Q15 ROUND-TRIPS THROUGH D7: the revenue view is STORED (persisted
    // SQL, not a temp view), resolved via getView — proving persistent
    // view storage + re-planning, then consumed by the raw-SQL top query
    "q324_sql_q15_view" -> ((s, d) => {
      Fx.registerAll(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft-q15")
      try {
        val db = new graft.Database(s, root.toString)
        db.createView("revenue0_stored", Q15ViewSql)
        db.getView("revenue0_stored").createOrReplaceTempView("revenue0")
        val out = Sql.executeRaw(s, Q15Sql)
        // materialize before the temp dir (the stored-view file) deletes
        import scala.jdk.CollectionConverters._
        s.createDataFrame(out.collect().toSeq.asJava, out.schema)
      } finally {
        scala.util.Try(s.catalog.dropTempView("revenue0"))
        org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      }
    }),
    "q325_sql_q16" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q16Sql) }),
    "q326_sql_q17" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q17Sql) }),
    "q327_sql_q19" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q19Sql) }),
    "q328_sql_q20" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q20Sql) }),
    "q329_sql_q21" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q21Sql) }),
    "q330_sql_q22" -> ((s, d) => { Fx.registerAll(s, d); Sql.executeRaw(s, Q22Sql) }),

    // Rows-only: approximate aggregates (sketches differ across engines
    // by design — sanity-bounded in ScalaTest instead).
    "q59_approx_agg" -> ((s, d) =>
      T(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_price"))
        .orderBy(col("l_returnflag"))),

    // ----------------------------------------------------- joins
    "q22_join_star" -> ((s, d) =>
      T(s, d, "orders")
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("r_name"), col("n_name"))),

    "q23_join_semi" -> ((s, d) =>
      T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),

    "q24_join_anti" -> ((s, d) =>
      T(s, d, "customer")
        .join(T(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))),

    // ----------------------------------------------------- window functions
    "q25_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q26_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      T(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "q27_window_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ----------------------------------------------------- aggregations
    "q28_agg_stats" -> ((s, d) =>
      T(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        (dsum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"))
        .orderBy(col("l_returnflag"))),

    "q29_agg_rollup" -> ((s, d) =>
      T(s, d, "customer")
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)),

    "q30_agg_cube" -> ((s, d) =>
      T(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // ----------------------------------------------------- set operations
    "q31_set_ops" -> ((s, d) => {
      val c = T(s, d, "customer")
      val a = c.filter(col("c_nationkey").isin(1, 2, 3)).select(col("c_custkey").as("k"))
      val b = T(s, d, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("k"))
      a.union(b).distinct()
        .intersect(c.filter(col("c_acctbal") > 0).select(col("c_custkey").as("k")))
        .except(c.filter(col("c_nationkey") === 2).select(col("c_custkey").as("k")))
        .orderBy(col("k"))
    }),

    // ----------------------------------------------------- scalar functions
    "q32_scalar_funcs" -> ((s, d) =>
      T(s, d, "lineitem").filter(col("l_orderkey") % 100 === 0).select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).cast("long").as("y"),
        month(col("l_shipdate")).cast("long").as("m"),
        upper(col("l_returnflag")).as("rf"),
        substring(col("l_linestatus"), 1, 1).as("ls"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        length(concat(col("l_returnflag"), lit("-"), col("l_linestatus")))
          .cast("long").as("strlen"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ------------------------------------------- S6/S7 incremental windows
    "q33_date_window" -> ((s, d) => {
      val e = T(s, d, "events")
      val mx = e.agg(max(col("ts")).as("m"))
      e.crossJoin(broadcast(mx))
        .filter(col("ts") >= col("m") - expr("INTERVAL 7 DAYS"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))
    }),

    "q34_json_extract" -> ((s, d) =>
      T(s, d, "events")
        .select((get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod"))
        .groupBy(col("k_mod")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("k_mod"))),

    "q35_incremental_pull" -> ((s, d) =>
      Query.get(T(s, d, "events"),
        columns = Seq("event_id", "user_id", "event_type", "value"),
        where = Seq(
          Pred.Op("ts", ">=", "2024-01-10"),
          Pred.Op("ts", "<", "2024-01-20")),
        sortBy = Seq(SortKey("event_id")))),

    // ----------------------------------------------------- as-of join
    "q36_asof_join" -> ((s, d) => {
      val e = T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = T(s, d, "orders").groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOfJoin.backward(e, "user_id", "ts", o, "o_custkey", "o_orderdate")
        .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("event_id"))
    }),

    "q37_tumbling_hour" -> ((s, d) =>
      T(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))),

    "q38_sessionize" -> ((s, d) =>
      Streams.sessionizeBatch(T(s, d, "events"), "ts", "user_id", 30, Some("event_id"))
        .select(col("user_id"), col("session_id"), col("n_events"))
        .orderBy(col("user_id"), col("session_id"))),

    // ----------------------------------------------------- dedup
    "q39_dedup_exact" -> ((s, d) =>
      docsSpread(s, d)
        .groupBy(TextOps.fingerprintMd5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
        .orderBy(col("keeper"))),

    "q40_dedup_keep_latest" -> ((s, d) =>
      Dedup.keepLatest(T(s, d, "events"), Seq("user_id"), "ts", Some("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"))),

    // ----------------------------------------------------- text analysis
    "q41_text_stats" -> ((s, d) => {
      docsSpread(s, d).select(
        col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("tok_ws"),
        TextOps.tokenCountBpe(col("text")).as("tok_bpe"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.stopwordCountText(col("text")).as("n_stop"),
        TextOps.stopwordRatioText(col("text")).as("stop_ratio"))
        .orderBy(col("doc_id"))
    }),

    "q42_text_quality" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "q43_lang_id" -> ((s, d) =>
      docsSpread(s, d)
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang_pred"))),

    "q44_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(T(s, d, "documents"), "doc_id", "text",
        threshold = 0.5, shingleN = 3, maxDf = 100)
        .orderBy(col("a"), col("b"))),

    // Portable-hash mode: the ENTIRE MinHash+LSH pipeline (signature,
    // banding, candidate join, Jaccard verify) is replayed by the
    // DuckDB oracle — md5-derived 60-bit hashes are engine-identical.
    "q45_minhash_neardup" -> ((s, d) =>
      Dedup.minhashNearDupsReleasable(T(s, d, "documents"), "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4, shingleN = 3, portable = true)
        .result.orderBy(col("a"), col("b"))),

    // Portable-hash mode: DuckDB replays the 60-bit SimHash (per-bit
    // vote sums, sign fold, 4×15-bit banding, Hamming verify).
    "q46_simhash_neardup" -> ((s, d) =>
      Dedup.simhashNearDups(T(s, d, "documents"), "doc_id", "text",
        maxDistance = 3, portable = true)
        .orderBy(col("a"), col("b"))),

    // WEIGHTED MinHash (r13): tf-weighted Jaccard via the integer-
    // replication construction (gram#0..gram#(c-1) elements, c capped
    // at 8) over the 3-GRAM basis — word mass degenerates on this
    // small-vocabulary fixture (the operator doc prices it); gram
    // mass is discriminative. The DuckDB oracle replays the
    // expansion, the 2-universal signatures, the banding, and the
    // exact Σmin/(Σa+Σb−Σmin) ppm.
    "q333_weighted_minhash" -> ((s, d) =>
      Dedup.weightedMinhashNearDupsReleasable(T(s, d, "documents"), "doc_id",
        "text", thresholdPpm = 500000L, k = 16, bands = 4,
        weightCap = 8, shingleN = 3)
        .result.orderBy(col("a"), col("b"))),

    // ----------------------------------------------------- similarity search
    "q47_embed_neardup" -> ((s, d) => {
      val v = T(s, d, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("nrm", Similarity.norm(col("e")))
      val a = v.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na"))
      val b = v.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb"))
      a.join(b, col("a") < col("b"))
        .withColumn("cosine",
          Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cosine") >= 0.4)
        .select(col("a"), col("b"), col("cosine"))
        .orderBy(col("a"), col("b"))
    }),

    "q48_embed_neardup_lsh" -> ((s, d) =>
      Dedup.embeddingNearDups(T(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, dim = 64, planes = 16, bandsOf = 4)
        .orderBy(col("a"), col("b"))),

    "q49_ann_topk" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Full probe (nprobe = nCentroids) is EXACT by construction, which
    // gives the whole IVF machinery — k-means build, bucket assignment,
    // probe join, scoring, ranking — a DuckDB hash-match oracle (same
    // SQL as q49). The approximate path (nprobe < C) is spec-covered by
    // a recall@k ≥ 0.9 assertion in SimilaritySpec.
    "q50_ann_ivf" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val idx = Similarity.ivfBuild(emb, "vec_id", "embedding", nCentroids = 16)
      Similarity.ivfSearch(idx, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nprobe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ----------------------------------------------------- multimodal
    "q51_media_meta" -> ((s, d) =>
      Multimodal.packAsMedia(T(s, d, "documents"), "doc_id", "text")
        .select(col("media_id"), col("media.mime").as("mime"),
          col("media.width").as("width"), col("media.height").as("height"),
          length(col("media.bytes")).cast("long").as("n_bytes"))
        .orderBy(col("media_id"))),

    // Exploded to (media_id, bin, cnt) rows: scalar columns hash cleanly
    // in the oracle harness, and the byte histogram IS expressible in
    // DuckDB over encode(text)'s hex dump (bins=16 ⇒ bin = low nibble).
    "q52_media_features" -> ((s, d) =>
      Multimodal.byteHistogram(
        Multimodal.packAsMedia(T(s, d, "documents"), "doc_id", "text"), bins = 16)
        .select(col("media_id"), posexplode(col("features")).as(Seq("bin", "cnt")),
          col("n_bytes"))
        .withColumn("bin", col("bin").cast("long"))
        .orderBy(col("media_id"), col("bin"))),

    "q53_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.packAsMedia(T(s, d, "documents"), "doc_id", "text"),
        nFrames = 4, frameBytes = 32)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
          col("frame_len").cast("long").as("frame_len"))
        .orderBy(col("media_id"), col("frame_no"))),

    // --------------------------------------------- S1–S9 REST connector
    // The fake org's records are a deterministic function of (seed, i),
    // so the oracle REGENERATES the remote dataset in SQL and checks
    // the whole connector path — pushdown, two-phase paginated read,
    // soft-delete filtering — against it by hash.
    "q55_rest_source" -> ((s, d) =>
      graft.sources.rest.RestOps.read(s, Map(
        "object" -> "account", "org" -> "verify",
        "numRecords" -> "2000", "seed" -> "42"))
        .filter(col("IsActive") === true && col("Amount") > 1000.0)
        .groupBy(col("Industry"))
        .agg(count(lit(1)).as("cnt"), dsum(col("Amount")).as("sum_amount"))
        .orderBy(col("Industry"))),

    // SESSION WINDOWS THROUGH THE REAL STREAMING PATH (q123 runs the
    // same operator in batch mode; THIS entry executes readStream →
    // watermark → session_window state → append-mode emission): the
    // events table is replayed as a 2-file parquet stream (one
    // micro-batch per file, chronological), then two far-future
    // SENTINEL batches advance the watermark past every real session
    // so append mode emits them all (watermark_N applies in batch
    // N+1 — one sentinel raises it, the next flushes). The sentinel
    // user (-1) is excluded from the result, which hash-matches the
    // SAME oracle as q123 — proving stream == batch on the full
    // fixture. Memory-sink rows freeze driver-side before the temp
    // source/checkpoint dirs delete (the q145 recipe); the temp view
    // drops so interleaved bench re-runs start clean.
    "q307_session_stream" -> ((s, d) => {
      import s.implicits._
      val ev = T(s, d, "events")
        .select(col("ts"), col("user_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft-ss")
      val src = root.resolve("in").toString
      val chk = root.resolve("chk").toString
      // Each micro-batch commits one state-store delta PER state
      // partition (plus checksum files since Spark 4.1) and schedules
      // that many tasks per stateful stage — at the session default of
      // 32 partitions the 4-batch gate paid ~128 state commits of
      // pure fixed overhead for a ≤60k-row fixture. 4 partitions keep
      // the gate genuinely distributed while cutting that overhead 8×
      // (r14 verdict What's-wrong #3: the streaming gates were the
      // variance tail that triggered the driver's bench timeout).
      // Results are partition-count-invariant; restored in finally.
      val savedParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        // split on FULL-timestamp halves, not dayofmonth — a
        // multi-month fixture would interleave months out of
        // watermark order and silently drop late rows (r12 advice).
        // Two chronological data batches prove the cross-batch state
        // path (sessions spanning the cut) at one less micro-batch
        // of fixed overhead than r14's terciles.
        val (minTs, maxTs) = {
          val r = ev.agg(min(unix_micros(col("ts"))),
            max(unix_micros(col("ts")))).head()
          (r.getLong(0), r.getLong(1))
        }
        val cut = minTs + (maxTs - minTs) / 2
        val us = unix_micros(col("ts"))
        Seq(us <= cut, us > cut).foreach(p =>
          ev.filter(p).coalesce(1).write.mode("append").parquet(src))
        Seq(1L, 2L).foreach(k =>
          Seq((new java.sql.Timestamp(maxTs / 1000L + k * 86400000L),
              -1L, 0.0))
            .toDF("ts", "user_id", "value")
            .coalesce(1).write.mode("append").parquet(src))
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = Streams.sessionAgg(stream, "ts", "30 minutes")
          .select(col("user_id"), col("session_start"),
            col("session_end"), col("n"))
          .writeStream.outputMode("append").format("memory")
          .queryName("q307_mem").option("checkpointLocation", chk)
          .start()
        q.processAllAvailable()
        q.stop()
        val got = s.table("q307_mem").filter(col("user_id") >= 0L)
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(got.collect().toSeq.asJava, got.schema)
        frozen.orderBy(col("user_id"), col("session_start"))
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", savedParts)
        // non-throwing: a failure before start() registers the view
        // must not abort the finally before the temp dir deletes
        scala.util.Try(s.catalog.dropTempView("q307_mem"))
        org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      }
    }),

    // TUMBLING WINDOWS THROUGH THE REAL STREAMING PATH — q307's
    // recipe applied to the other windowed shape (q37 is the batch
    // twin): 2 chronological micro-batches + 2 sentinel batches flush
    // every hourly window through the watermark; counts hash-match
    // the batch aggregation (sum_value is excluded from the
    // projection — cross-batch double partials re-order the sum, the
    // q123 rule; counts and bounds are exact).
    "q314_tumbling_stream" -> ((s, d) => {
      import s.implicits._
      val ev = T(s, d, "events")
        .select(col("ts"), col("event_type"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft-ts")
      val src = root.resolve("in").toString
      val chk = root.resolve("chk").toString
      // 4 state partitions + 2 data batches, same overhead reasoning
      // as q307 (results are partition-count-invariant)
      val savedParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        // full-timestamp halves, same reasoning as q307
        val (minTs, maxTs) = {
          val r = ev.agg(min(unix_micros(col("ts"))),
            max(unix_micros(col("ts")))).head()
          (r.getLong(0), r.getLong(1))
        }
        val cut = minTs + (maxTs - minTs) / 2
        val us = unix_micros(col("ts"))
        Seq(us <= cut, us > cut).foreach(p =>
          ev.filter(p).coalesce(1).write.mode("append").parquet(src))
        Seq(1L, 2L).foreach(k =>
          Seq((new java.sql.Timestamp(maxTs / 1000L + k * 86400000L),
              "sentinel", 0.0))
            .toDF("ts", "event_type", "value")
            .coalesce(1).write.mode("append").parquet(src))
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val q = Streams.tumblingAgg(stream, "ts", "1 hour")
          .select(col("window_start"), col("window_end"),
            col("event_type"), col("n"))
          .writeStream.outputMode("append").format("memory")
          .queryName("q314_mem").option("checkpointLocation", chk)
          .start()
        q.processAllAvailable()
        q.stop()
        val got = s.table("q314_mem").filter(col("event_type") =!= "sentinel")
        import scala.jdk.CollectionConverters._
        val frozen = s.createDataFrame(got.collect().toSeq.asJava, got.schema)
        frozen.orderBy(col("window_start"), col("event_type"))
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", savedParts)
        scala.util.Try(s.catalog.dropTempView("q314_mem"))
        org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
      }
    }),

    // S7 THROUGH THE SQL PATH: a global COUNT/MIN/MAX over the
    // connector collapses to ONE remote stats probe (DSv2 complete
    // aggregate pushdown, the reference's sobject_size SOQL at
    // salesforce/main.py:195) — the proof columns carry the transport
    // call log: one stats call, ZERO id-cursor walks, ZERO row
    // fetches. The oracle regenerates the fake org arithmetically
    // (the q55 recipe) and pins the call counts as literals.
    "q306_rest_agg_pushdown" -> ((s, d) => {
      import graft.sources.rest.FakeTransport
      FakeTransport.CallLog.clear()
      val df = graft.sources.rest.RestOps.read(s, Map(
        "object" -> "account", "org" -> "q306",
        "numRecords" -> "2000", "seed" -> "42"))
      val r = df.agg(
        count(lit(1)).as("n"),
        min(col("Amount")).as("min_amount"),
        max(col("Amount")).as("max_amount"),
        max(col("NumEmployees")).as("max_employees"),
        min(col("Name")).as("min_name")).collect().head
      import s.implicits._
      Seq((r.getAs[Long]("n"), r.getAs[Double]("min_amount"),
          r.getAs[Double]("max_amount"), r.getAs[Long]("max_employees"),
          r.getAs[String]("min_name"),
          FakeTransport.CallLog.stats.size.toLong,
          FakeTransport.CallLog.idQueries.size.toLong,
          FakeTransport.CallLog.fetches.size.toLong))
        .toDF("n", "min_amount", "max_amount", "max_employees",
          "min_name", "stats_calls", "id_cursor_calls", "fetch_calls")
    }),

    // S7 GROUPED through the SQL path (r13): a GROUP BY + COUNT/MIN/
    // MAX over the connector collapses to ONE remote GROUP BY
    // aggregate call (SOQL GROUP BY — DSv2 complete pushdown with
    // grouping columns), never the cursor walk. Same proof-column
    // recipe as q306: one stats call, zero id-cursor walks, zero row
    // fetches; the oracle regenerates the fake org arithmetically and
    // replays the grouped aggregate with the call counts as literals.
    "q332_rest_groupby_pushdown" -> ((s, d) => {
      import s.implicits._
      import graft.sources.rest.FakeTransport
      FakeTransport.CallLog.clear()
      val df = graft.sources.rest.RestOps.read(s, Map(
        "object" -> "account", "org" -> "q332",
        "numRecords" -> "2000", "seed" -> "42"))
      val grouped = df.filter(col("IsActive") === true)
        .groupBy(col("Industry"))
        .agg(count(lit(1)).as("n"),
          min(col("Amount")).as("min_amount"),
          max(col("NumEmployees")).as("max_employees"))
        .collect()
      val rows = grouped.map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSeq
      rows.toDF("Industry", "n", "min_amount", "max_employees")
        .withColumn("stats_calls", lit(FakeTransport.CallLog.stats.size.toLong))
        .withColumn("id_cursor_calls", lit(FakeTransport.CallLog.idQueries.size.toLong))
        .withColumn("fetch_calls", lit(FakeTransport.CallLog.fetches.size.toLong))
        .orderBy(col("Industry"))
    }),

    // THROTTLE-SURVIVAL contract (r14): an org under quota pressure
    // (FakeTransport throttleFirst=2 — every transport instance
    // bounces its first two data calls with 429 + Retry-After) must
    // yield the SAME scan result, with the retry spend deterministic:
    // the planner's id cursor re-requests twice (2) and each of the
    // ceil(500/100)=5 fetch partitions bounces twice (10) = 12
    // throttles served, all absorbed by the bounded connector retry
    // (RestRetry). A retry regression either fails the scan (no rows
    // → rows mismatch) or double-fetches (n_distinct < n).
    "q334_rest_throttle_retry" -> ((s, d) => {
      import s.implicits._
      import graft.sources.rest.FakeTransport
      FakeTransport.CallLog.clear()
      val ids = graft.sources.rest.RestOps.read(s, Map(
        "object" -> "account", "org" -> "q334",
        "numRecords" -> "500", "seed" -> "42",
        "throttleFirst" -> "2", "maxRetries" -> "3",
        "retryBaseMs" -> "0", "retryMaxMs" -> "0"))
        .select("Id").collect().map(_.getString(0))
      Seq((ids.length.toLong, ids.distinct.length.toLong,
          FakeTransport.CallLog.throttles.size.toLong))
        .toDF("n", "n_distinct", "throttles_served")
    }),

    // Rows-only: end-to-end training-data curation pipeline — quality
    // gate → language filter → exact dedup → per-doc stats. The shape a
    // 100 TB corpus job takes: all narrow ops + one dedup shuffle.
    "q60_curation_pipeline" -> ((s, d) => {
      val docs = docsSpread(s, d)
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("lang_pred", TextOps.langId(col("text")))
        .filter(col("quality") >= 0.3 && col("lang_pred") =!= "und")
      Dedup.exact(docs, Seq("text"), "doc_id")
        .select(col("doc_id"), col("lang_pred"), col("quality"),
          TextOps.tokenCountWs(col("text")).as("tok_ws"),
          TextOps.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // ----------------------------------------------------- D9/D10 DDL
    "q54_schema_evolution" -> ((s, d) =>
      Ddl.evolveSchema(T(s, d, "documents"), Seq(
        ColumnSpec("quality", DoubleType),
        ColumnSpec("ingested", StringType, default = Some("ref"))))
        .orderBy(col("doc_id"))))

  def oracleSql: Map[String, String] = Map(

    "q01_count" -> "SELECT count(*) AS cnt FROM lineitem",

    "q02_count_min_max" ->
      "SELECT count(*) AS cnt, min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship FROM lineitem",

    "q03_pred_eq" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey",

    "q04_pred_in" ->
      "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag IN ('A','R') ORDER BY l_orderkey, l_linenumber",

    "q05_pred_notin" ->
      "SELECT o_orderstatus, count(*) AS cnt FROM orders WHERE o_orderstatus NOT IN ('F','P') GROUP BY o_orderstatus ORDER BY o_orderstatus",

    "q06_pred_like" ->
      "SELECT p_partkey, p_name, p_type FROM part WHERE p_name LIKE '%widget%' ORDER BY p_partkey",

    "q07_pred_notlike" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name NOT LIKE '%o%' ORDER BY p_partkey",

    "q08_pred_isnull" ->
      "SELECT count(*) AS cnt FROM orders WHERE (CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END) IS NULL",

    "q09_pred_isnotnull" ->
      "SELECT st, count(*) AS cnt FROM (SELECT CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_orderstatus END AS st FROM orders) t WHERE st IS NOT NULL GROUP BY st ORDER BY st",

    "q10_pred_between" ->
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31' GROUP BY l_returnflag ORDER BY l_returnflag",

    "q11_pred_notbetween" ->
      "SELECT l_linestatus, count(*) AS cnt, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty FROM lineitem WHERE l_quantity NOT BETWEEN 10 AND 40 GROUP BY l_linestatus ORDER BY l_linestatus",

    "q12_pred_passthrough" ->
      "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 1000 AND c_acctbal <= 9000 AND c_nationkey != 3 ORDER BY c_custkey",

    "q13_pred_regexp" ->
      "SELECT p_partkey, p_name FROM part WHERE regexp_matches(p_name, '^[bc].*t$') ORDER BY p_partkey",

    "q14_get_pipeline" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O' ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5",

    "q15_topk" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10",

    "q16_upsert_coalesce" ->
      """WITH u AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_nationkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'new-' || CAST(c_custkey AS VARCHAR), 0, 0.0, 'NEW'
        |  FROM customer WHERE c_custkey % 11 = 0)
        |SELECT coalesce(u.c_custkey, t.c_custkey) AS c_custkey,
        |  coalesce(u.c_name, t.c_name) AS c_name,
        |  coalesce(u.c_nationkey, t.c_nationkey) AS c_nationkey,
        |  coalesce(u.c_acctbal, t.c_acctbal) AS c_acctbal,
        |  coalesce(u.c_mktsegment, t.c_mktsegment) AS c_mktsegment
        |FROM customer t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q17_upsert_overwrite" ->
      """WITH u AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_nationkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0)
        |SELECT coalesce(u.c_custkey, t.c_custkey) AS c_custkey,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
        |FROM customer t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q18_update_keyed" ->
      """WITH u AS (
        |  SELECT c_custkey, 'UPDATED' AS c_mktsegment, c_acctbal * 2 AS c_acctbal
        |  FROM customer WHERE c_nationkey = 5)
        |SELECT t.c_custkey, t.c_name, t.c_nationkey,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        |  CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
        |FROM customer t LEFT JOIN u ON t.c_custkey = u.c_custkey
        |ORDER BY t.c_custkey""".stripMargin,

    "q19_delete_pred" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE NOT (o_totalprice BETWEEN 50000 AND 200000 AND o_orderstatus = 'F') ORDER BY o_orderkey",

    "q20_sql_q1" -> Q1Sql,
    "q21_sql_q3" -> Q3Sql,
    "q56_sql_q5" -> Q5Sql,
    "q318_sql_q2" -> Q2Sql,
    "q319_sql_q4" -> Q4Sql,
    "q320_sql_q7" -> Q7Sql,
    "q321_sql_q8" -> Q8Sql,
    "q322_sql_q9" -> Q9Sql,
    "q323_sql_q11" -> Q11Sql,
    // the oracle inlines the stored view as a CTE — same body, same name
    "q324_sql_q15_view" -> s"WITH revenue0 AS (\n$Q15ViewSql)\n$Q15Sql",
    "q325_sql_q16" -> Q16Sql,
    "q326_sql_q17" -> Q17Sql,
    "q327_sql_q19" -> Q19Sql,
    "q328_sql_q20" -> Q20Sql,
    "q329_sql_q21" -> Q21Sql,
    "q330_sql_q22" -> Q22Sql,
    "q57_subquery_corr" -> SubquerySql,
    "q58_grouping_sets" -> GroupingSetsSql,

    "q22_join_star" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q23_join_semi" ->
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey",

    "q24_join_anti" ->
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey",

    "q25_window_rank" ->
      "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn",

    "q26_window_lag" ->
      "SELECT o_custkey, o_orderkey, lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price, lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_price FROM orders ORDER BY o_custkey, o_orderkey",

    "q27_window_frame" ->
      "SELECT o_custkey, o_orderkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total FROM orders ORDER BY o_custkey, o_orderkey",

    "q28_agg_stats" ->
      """SELECT l_returnflag, count(*) AS cnt, count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q29_agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q30_agg_cube" ->
      "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST",

    "q31_set_ops" ->
      """SELECT k FROM (
        |  SELECT k FROM (
        |    SELECT c_custkey AS k FROM customer WHERE c_nationkey IN (1,2,3)
        |    UNION
        |    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000)
        |  INTERSECT SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
        |  EXCEPT SELECT c_custkey AS k FROM customer WHERE c_nationkey = 2
        |) t ORDER BY k""".stripMargin,

    "q32_scalar_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(year(l_shipdate) AS BIGINT) AS y, CAST(month(l_shipdate) AS BIGINT) AS m,
        |  upper(l_returnflag) AS rf, substring(l_linestatus, 1, 1) AS ls,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(length(l_returnflag || '-' || l_linestatus) AS BIGINT) AS strlen
        |FROM lineitem WHERE l_orderkey % 100 = 0 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q33_date_window" ->
      "WITH mx AS (SELECT max(ts) AS m FROM events) SELECT event_type, count(*) AS cnt FROM events, mx WHERE ts >= m - INTERVAL 7 DAY GROUP BY event_type ORDER BY event_type",

    "q34_json_extract" ->
      "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod, count(*) AS cnt FROM events GROUP BY k_mod ORDER BY k_mod",

    "q35_incremental_pull" ->
      "SELECT event_id, user_id, event_type, value FROM events WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20' ORDER BY event_id",

    "q36_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "q37_tumbling_hour" ->
      "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2",

    "q38_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events FROM s
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q39_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keeper, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,

    "q40_dedup_keep_latest" ->
      "SELECT user_id, event_id, event_type FROM (SELECT user_id, event_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1 ORDER BY user_id",

    "q41_text_stats" ->
      s"""WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS tok_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS tok_bpe,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS BIGINT) AS n_stop,
        |  CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q42_text_quality" ->
      s"""WITH tk AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio
        |  FROM tk)
        |SELECT doc_id,
        |  greatest(0.0, least(1.0, len_score * 0.5 + least(stop_ratio * 4.0, 1.0) * 0.5 - least(punct_ratio * 2.0, 1.0) * 0.25)) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,

    // Regenerates FakeTransport.gen's records (Transport.scala:96-115)
    // arithmetically: h = (seed·1315423911) xor (i·2654435761); every
    // field is a pure function of h or i, so the connector's output is
    // checkable without the org being a table anywhere.
    "q55_rest_source" ->
      """WITH g AS (
        |  SELECT i, xor(CAST(42 AS BIGINT) * 1315423911, CAST(i AS BIGINT) * 2654435761) AS h
        |  FROM range(0, 2000) t(i)),
        |r AS (
        |  SELECT i,
        |    (['Agriculture', 'Banking', 'Consulting', 'Energy', 'Media', 'Retail'])[CAST(abs(h % 6) AS INTEGER) + 1] AS Industry,
        |    CAST(abs(h % 1000000) AS DOUBLE) / 100.0 AS Amount,
        |    (h % 3 != 0) AS IsActive,
        |    (i % 50 = 49) AS IsDeleted
        |  FROM g)
        |SELECT Industry, count(*) AS cnt,
        |  CAST(sum(CAST(Amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_amount
        |FROM r WHERE IsActive AND Amount > 1000.0
        |GROUP BY Industry ORDER BY Industry""".stripMargin,

    // the q37 aggregation (counts only) + the window end bound —
    // stream == batch on the tumbling shape
    "q314_tumbling_stream" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // IDENTICAL SQL to q123: the streaming run must equal the batch
    // operator on the full fixture (stream == batch is the contract)
    "q307_session_stream" ->
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

    // same arithmetic regeneration as q55; the call-count columns are
    // literals BY CONTRACT — the Spark side reads them off the live
    // transport log, so a pushdown regression (cursor walk, row fetch)
    // hash-mismatches here
    "q306_rest_agg_pushdown" ->
      """WITH g AS (
        |  SELECT i, xor(CAST(42 AS BIGINT) * 1315423911, CAST(i AS BIGINT) * 2654435761) AS h
        |  FROM range(0, 2000) t(i)),
        |r AS (
        |  SELECT i, 'Account ' || i AS Name,
        |    CAST(abs(h % 1000000) AS DOUBLE) / 100.0 AS Amount,
        |    abs(h % 10000) AS NumEmployees
        |  FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  min(Amount) AS min_amount, max(Amount) AS max_amount,
        |  CAST(max(NumEmployees) AS BIGINT) AS max_employees,
        |  min(Name) AS min_name,
        |  CAST(1 AS BIGINT) AS stats_calls,
        |  CAST(0 AS BIGINT) AS id_cursor_calls,
        |  CAST(0 AS BIGINT) AS fetch_calls
        |FROM r""".stripMargin,

    // the q306 arithmetic regeneration, grouped: Industry from the
    // 6-way abs(h%6) case, IsActive = (h%3 <> 0); call counts are
    // literals BY CONTRACT (a pushdown regression — cursor walk or
    // row fetch — hash-mismatches here)
    "q332_rest_groupby_pushdown" ->
      """WITH g AS (
        |  SELECT i, xor(CAST(42 AS BIGINT) * 1315423911, CAST(i AS BIGINT) * 2654435761) AS h
        |  FROM range(0, 2000) t(i)),
        |r AS (
        |  SELECT i,
        |    CASE abs(h % 6) WHEN 0 THEN 'Agriculture' WHEN 1 THEN 'Banking'
        |      WHEN 2 THEN 'Consulting' WHEN 3 THEN 'Energy'
        |      WHEN 4 THEN 'Media' ELSE 'Retail' END AS Industry,
        |    CAST(abs(h % 1000000) AS DOUBLE) / 100.0 AS Amount,
        |    abs(h % 10000) AS NumEmployees,
        |    (h % 3 <> 0) AS IsActive
        |  FROM g)
        |SELECT Industry, count(*) AS n, min(Amount) AS min_amount,
        |  CAST(max(NumEmployees) AS BIGINT) AS max_employees,
        |  CAST(1 AS BIGINT) AS stats_calls,
        |  CAST(0 AS BIGINT) AS id_cursor_calls,
        |  CAST(0 AS BIGINT) AS fetch_calls
        |FROM r WHERE IsActive
        |GROUP BY Industry ORDER BY Industry""".stripMargin,

    // throttle-survival proof columns BY CONTRACT: 500 rows all
    // distinct (no double-fetch under retry), exactly 12 throttles
    // absorbed (2 planner-cursor + 5 partitions × 2)
    "q334_rest_throttle_retry" ->
      """SELECT CAST(500 AS BIGINT) AS n,
        |  CAST(500 AS BIGINT) AS n_distinct,
        |  CAST(12 AS BIGINT) AS throttles_served""".stripMargin,

    "q45_minhash_neardup" -> MinhashOracleSql,

    "q333_weighted_minhash" -> WeightedMinhashOracleSql,

    "q46_simhash_neardup" -> SimhashOracleSql,

    "q48_embed_neardup_lsh" -> SrpOracleSql,

    "q43_lang_id" ->
      s"""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    $LangScoreCols
        |  FROM tk)
        |SELECT $LangArgmaxSql AS lang_pred, count(*) AS cnt
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // df-capped shingle space: drop shingles with document frequency >
    // 100 before the self-join, recompute set sizes after the cap —
    // mirrors Dedup.ngramJaccardPairs(maxDf = 100) exactly.
    "q44_ngram_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(tokens) >= 3 THEN list_distinct(list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))) ELSE [] END AS s FROM tk),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM ex)
        |  WHERE df <= 100),
        |sized AS (SELECT doc_id, g, count(*) OVER (PARTITION BY doc_id) AS n FROM kept),
        |pairs AS (
        |  SELECT ea.doc_id AS a, eb.doc_id AS b, ea.n AS na, eb.n AS nb, count(*) AS c
        |  FROM sized ea JOIN sized eb ON ea.g = eb.g AND ea.doc_id < eb.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT a, b, CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) AS jaccard
        |FROM pairs WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.5
        |ORDER BY a, b""".stripMargin,

    "q47_embed_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE vec_id < 500),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY a, b""".stripMargin,

    "q49_ann_topk" -> AnnTopkSql,

    // Same oracle as q49: IVF at full probe (nprobe = nCentroids) must
    // reproduce the exact top-k bit-for-bit — verifies build + probe +
    // scoring end-to-end.
    "q50_ann_ivf" -> AnnTopkSql,

    "q51_media_meta" ->
      """SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
        |  CAST(length(text) % 1024 + 1 AS INTEGER) AS width,
        |  CAST(length(text) % 768 + 1 AS INTEGER) AS height,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    // bins=16 byte histogram: bin(byte) = byte % 16 = the byte's LOW hex
    // nibble, so hex(encode(text))'s even-position chars enumerate bins.
    "q52_media_features" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |pos AS (SELECT media_id, hx, unnest(range(1, n_bytes + 1)) AS p FROM h),
        |cnts AS (
        |  SELECT media_id,
        |    CAST(strpos('0123456789ABCDEF', substring(hx, CAST(2 * p AS INTEGER), 1)) - 1 AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM pos GROUP BY 1, 2),
        |grid AS (SELECT media_id, n_bytes, unnest(range(0, 16)) AS bin FROM h)
        |SELECT g.media_id, CAST(g.bin AS BIGINT) AS bin,
        |  CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt, g.n_bytes
        |FROM grid g LEFT JOIN cnts c ON g.media_id = c.media_id AND g.bin = c.bin
        |ORDER BY g.media_id, g.bin""".stripMargin,

    // frame geometry is pure arithmetic over octet_length (DuckDB can't
    // substring a BLOB, but the selected columns never need the bytes):
    // off = trunc(frame_no * max(nb-32, 0) / 3) + 1 mirrors Spark's
    // (int) cast of the double division; floor == trunc (non-negative).
    "q53_frame_sample" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents),
        |f AS (SELECT media_id, nb, unnest(range(0, 4)) AS frame_no FROM h),
        |o AS (SELECT media_id, frame_no, nb,
        |  CAST(floor(frame_no * greatest(nb - 32, 0) / 3.0) AS BIGINT) + 1 AS off FROM f)
        |SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(greatest(least(32, nb - off + 1), 0) AS BIGINT) AS frame_len
        |FROM o ORDER BY media_id, frame_no""".stripMargin,

    // Full curation pipeline: quality gate → lang filter → exact dedup
    // (min doc_id per text) → stats + md5 fingerprint. Every stage is
    // engine-portable, so the composite hash-matches end to end.
    "q60_curation_pipeline" ->
      s"""WITH tk AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
        |sc AS (
        |  SELECT doc_id, text, tokens,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$Stop20], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS stop_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    $LangScoreCols
        |  FROM tk),
        |q AS (
        |  SELECT doc_id, text,
        |    greatest(0.0, least(1.0, len_score * 0.5 + least(stop_ratio * 4.0, 1.0) * 0.5 - least(punct_ratio * 2.0, 1.0) * 0.25)) AS quality,
        |    $LangArgmaxSql AS lang_pred,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS tok_ws
        |  FROM sc),
        |f AS (SELECT * FROM q WHERE quality >= 0.3 AND lang_pred <> 'und'),
        |d AS (SELECT * FROM f QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
        |SELECT doc_id, lang_pred, quality, tok_ws,
        |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        |FROM d ORDER BY doc_id""".stripMargin,

    "q54_schema_evolution" ->
      "SELECT doc_id, text, lang, source, n_chars, CAST(NULL AS DOUBLE) AS quality, 'ref' AS ingested FROM documents ORDER BY doc_id")
}
