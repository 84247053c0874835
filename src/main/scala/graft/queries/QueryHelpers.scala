package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}
import graft.operators.AsOfJoin
import graft.streaming.Streams

/** Shared fixtures, portable-SQL constants, and oracle CTE builders for
  * the per-tier query registries ([[QueriesCore]] .. [[QueriesStats]]) —
  * split out of the once-8kLoC SparkEntry so each tier reads alone.
  * Package-private: the public surface stays [[SparkEntry]]. */
private[graft] object QueryHelpers {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Fx.t(s, dir, name)

  /** documents, hash-spread: each fixture table is ONE parquet file =
    * one input split, so per-row text expressions would otherwise run
    * on a single core. At real scale the split count provides this and
    * the repartition is unnecessary. */
  private[graft] def docsSpread(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").repartition(col("doc_id"))

  /** The per-event-type DAILY revenue series (cents, integer) — the
    * shared input of every series-statistics contract (q264 Theil–Sen,
    * q266 runs, q273 Mann–Kendall, q277 seasonal, q281 EWMA). ONE
    * definition: the matching oracle `dly` CTEs replay this expression
    * bit for bit, so a drift in any copy would silently desynchronize
    * a subset of the gate. */
  private[graft] def dailyCents(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))

  /** Derived MULTI-LINE corpus for the paragraph-dedup contracts
    * (q119/q120): the fixture bodies carry no newlines, so boilerplate
    * paragraphs are planted arithmetically — a shared header on every
    * doc, a promo footer on every third, a unique tail elsewhere —
    * mirrored term-for-term by the oracle's `d2` CTE. */
  private[graft] def docsMultiline(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir).select(col("doc_id"),
      concat(
        lit("shared header line\n"), col("text"), lit("\n"),
        when(col("doc_id") % 3 === 0, lit("promo footer line"))
          .otherwise(concat(lit("unique tail "), col("doc_id").cast("string"))),
        // a line repeated WITHIN one doc only — pins the distinct-doc
        // rule: df counts documents, so this must never become hot
        when(col("doc_id") % 7 === 2, concat(
          lit("\nself repeat "), col("doc_id").cast("string"),
          lit("\nself repeat "), col("doc_id").cast("string")))
          .otherwise(lit(""))
      ).as("text"))

  /** Exact, order-independent double aggregate: sum as decimal → double. */
  private[graft] def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  private[graft] val Stop20 =
    "'the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from','this','be'"

  /** DuckDB replay of the portable MinHash+LSH pipeline (k=16, 4 bands
    * of 4, 3-gram shingles, 2-universal double hashing h_i = a + i·b
    * over the md5 56-bit halves, jaccard ≥ 0.5) — mirrors
    * `Dedup.minhashNearDupsReleasable(..., portable = true).result`
    * hash for hash. */
  private[graft] val MinhashOracleSql: String = {
    val k = 16; val bands = 4; val r = k / bands
    val hCols = (0 until k).map(i => s"min(ha + $i * hb) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until r).map(i => s"h${b * r + i}").mkString(", '|', ")
      s"SELECT doc_id, $b AS band, md5(concat('$b', '|', $parts)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(tokens) >= 3 THEN list_distinct(list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))) ELSE [] END AS s FROM tk),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |hx AS (SELECT doc_id,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', g)), 1, 14)) AS BIGINT) AS ha,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', g)), 17, 14)) AS BIGINT) AS hb
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
      |sized AS (SELECT doc_id, s, len(s) AS n FROM sh),
      |pairs AS (
      |  SELECT c.a, c.b, len(list_intersect(sa.s, sb.s)) AS inter, sa.n AS na, sb.n AS nb
      |  FROM cand c JOIN sized sa ON sa.doc_id = c.a JOIN sized sb ON sb.doc_id = c.b),
      |j AS (
      |  SELECT a, b, CASE WHEN na + nb - inter = 0 THEN 0.0
      |    ELSE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) END AS jaccard
      |  FROM pairs)
      |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of the WEIGHTED MinHash pipeline (q333): per-doc
    * capped word counts, integer-replication expansion (w#0..w#(c−1)),
    * the same 2-universal signature family and banding as
    * [[MinhashOracleSql]], and the exact Σmin/(Σa+Σb−Σmin) weighted
    * Jaccard in floor ppm — mirrors
    * `Dedup.weightedMinhashNearDupsReleasable(k=16, bands=4, weightCap=8,
    * shingleN=3).result`. */
  private[graft] val WeightedMinhashOracleSql: String = {
    val k = 16; val bands = 4; val r = k / bands; val cap = 8
    val hCols = (0 until k).map(i => s"min(ha + $i * hb) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until r).map(i => s"h${b * r + i}").mkString(", '|', ")
      s"SELECT doc_id, $b AS band, md5(concat('$b', '|', $parts)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tkl AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, unnest(CASE WHEN len(tokens) >= 3
      |    THEN list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))
      |    ELSE [] END) AS w
      |  FROM tkl),
      |tf AS (SELECT doc_id, w, least(count(*), $cap) AS c FROM tk GROUP BY 1, 2),
      |ex AS (SELECT doc_id, w || '#' || CAST(unnest(range(c)) AS VARCHAR) AS el FROM tf),
      |hx AS (SELECT doc_id,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', el)), 1, 14)) AS BIGINT) AS ha,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', el)), 17, 14)) AS BIGINT) AS hb
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
      |sums AS (SELECT doc_id, sum(c) AS s FROM tf GROUP BY 1),
      |inter AS (
      |  SELECT c.a, c.b, sum(least(ta.c, tb.c)) AS i
      |  FROM cand c
      |  JOIN tf ta ON ta.doc_id = c.a
      |  JOIN tf tb ON tb.doc_id = c.b AND tb.w = ta.w
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT c.a, c.b,
      |    CASE WHEN sa.s + sb.s - coalesce(i.i, 0) = 0 THEN 0
      |      ELSE (1000000 * coalesce(i.i, 0)) // (sa.s + sb.s - coalesce(i.i, 0)) END AS jw_ppm
      |  FROM cand c
      |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
      |  JOIN sums sa ON sa.doc_id = c.a
      |  JOIN sums sb ON sb.doc_id = c.b)
      |SELECT a, b, CAST(jw_ppm AS BIGINT) AS jw_ppm FROM j
      |WHERE jw_ppm >= 500000 ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of the CROSS-SET MinHash+LSH pipeline for q107: the
    * corpus/batch split (batch = non-corpus docs plus first-word-dropped
    * rewrites of corpus docs under offset ids), per-side signatures with
    * the same 2-universal family, banded candidates restricted to
    * batch × corpus, exact-Jaccard verify ≥ 0.5 — mirrors
    * `Dedup.incrementalNearDups(..., portable = true).result`. */
  private[graft] val IncrementalMinhashOracleSql: String = {
    val k = 16; val bands = 4; val r = k / bands
    val hCols = (0 until k).map(i => s"min(ha + $i * hb) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until r).map(i => s"h${b * r + i}").mkString(", '|', ")
      s"SELECT side, doc_id, $b AS band, md5(concat('$b', '|', $parts)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH d2 AS (
      |  SELECT 'c' AS side, doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT 'b', doc_id, text FROM documents WHERE doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT 'b', doc_id + (SELECT max(doc_id) + 1 FROM documents), regexp_replace(text, '^[^ ]+ ', '') FROM documents WHERE doc_id % 3 = 0),
      |tk AS (
      |  SELECT side, doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM d2),
      |sh AS (
      |  SELECT side, doc_id, CASE WHEN len(tokens) >= 3 THEN list_distinct(list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))) ELSE [] END AS s FROM tk),
      |ex AS (SELECT side, doc_id, unnest(s) AS g FROM sh),
      |hx AS (SELECT side, doc_id,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', g)), 1, 14)) AS BIGINT) AS ha,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', g)), 17, 14)) AS BIGINT) AS hb
      |  FROM ex),
      |sig AS (SELECT side, doc_id,
      |    $hCols
      |  FROM hx GROUP BY side, doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT ba.doc_id AS a, bb.doc_id AS b FROM bands ba
      |  JOIN bands bb ON ba.band = bb.band AND ba.bh = bb.bh
      |  WHERE ba.side = 'b' AND bb.side = 'c'
      |  GROUP BY 1, 2),
      |sized AS (SELECT side, doc_id, s, len(s) AS n FROM sh),
      |pairs AS (
      |  SELECT c.a, c.b, len(list_intersect(sa.s, sb.s)) AS inter, sa.n AS na, sb.n AS nb
      |  FROM cand c
      |  JOIN sized sa ON sa.doc_id = c.a AND sa.side = 'b'
      |  JOIN sized sb ON sb.doc_id = c.b AND sb.side = 'c'),
      |j AS (
      |  SELECT a, b, CASE WHEN na + nb - inter = 0 THEN 0.0
      |    ELSE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) END AS jaccard
      |  FROM pairs)
      |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of the portable 60-bit SimHash pipeline (votes →
    * sign fold → 4×15-bit bands → Hamming ≤ 3) — mirrors
    * `Dedup.simhashNearDups(..., portable = true)` bit for bit. */
  /** DuckDB replay of the media dHash near-dup: 61 evenly-spaced probe
    * bytes read from the hex dump (probe i = byte ⌊i·(nb−1)/60⌋, two
    * hex chars at 2·idx+1), adjacent gradient-sign bits packed into
    * the 60-bit signature, 15-bit banding, bit_count Hamming ≤ 3. */
  private[graft] val DhashOracleSql: String = {
    val samples = 61
    val probes = (0 until samples).map(i =>
      s"coalesce(try_cast(concat('0x', substring(hx, CAST(2 * (($i * (n_bytes - 1)) // ${samples - 1}) + 1 AS INTEGER), 2)) AS BIGINT), 0) AS s$i")
      .mkString(",\n    ")
    val bitsSum = (0 until samples - 1).map(i =>
      s"CASE WHEN s$i > s${i + 1} THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val bandVals = (0 until 4).map(b => s"(sig >> ${b * 15}) & ${(1L << 15) - 1}").mkString(", ")
    s"""WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    concat(substring(text, 1, 10), 'X', substring(text, 12))
      |  FROM documents),
      |h AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM docs),
      |p AS (SELECT media_id,
      |    $probes
      |  FROM h WHERE n_bytes > 0),
      |sig AS (SELECT media_id, $bitsSum AS sig FROM p
      |  UNION ALL SELECT media_id, 0 AS sig FROM h
      |  WHERE n_bytes = 0 OR n_bytes IS NULL),
      |b AS (SELECT media_id, sig, unnest([0, 1, 2, 3]) AS band, unnest([$bandVals]) AS bh FROM sig),
      |cand AS (
      |  SELECT ba.media_id AS a, bb.media_id AS b, ba.sig AS sa, bb.sig AS sb
      |  FROM b ba JOIN b bb ON ba.band = bb.band AND ba.bh = bb.bh AND ba.media_id < bb.media_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM cand
      |WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of the MMR greedy rerank, UNROLLED: the k sequential
    * argmax steps become k CTE stages (picks₁ ⊂ picks₂ ⊂ …), each
    * computing `λ·rel − (1−λ)·max-sim-to-picked` with the exact q49
    * cosine arithmetic. λ constants are the PLAIN literals 0.7/0.3 —
    * DuckDB folds decimal literals exactly, and the engine side derives
    * the same doubles via 700/1000.0 and 300/1000.0 (writing
    * `1.0 - 0.7` ANYWHERE gives 0.30000000000000004, one ulp off the
    * 0.3 literal, and the bit-exact compare catches it). */
  private[graft] val MmrOracleSql: String = {
    val k = 5
    val lam = "0.7"; val oneMinus = "0.3"
    def cos(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($a.e[i] / $a.nrm) * ($b.e[i] / $b.nrm)))"
    val steps = (2 to k).map { n =>
      // div via join + max aggregate (DuckDB cannot correlate an outer
      // column into a lambda inside a scalar subquery), then rel/e/nrm
      // re-joined from cand for the argmax stage
      s"""d$n AS (
      |  SELECT c.query_id, c.nn_id, max(${cos("c", "p")}) AS div
      |  FROM cand c JOIN picks${n - 1} p ON p.query_id = c.query_id
      |  WHERE NOT EXISTS (SELECT 1 FROM picks${n - 1} x WHERE x.query_id = c.query_id AND x.nn_id = c.nn_id)
      |  GROUP BY c.query_id, c.nn_id),
      |e$n AS (
      |  SELECT d.query_id, d.nn_id, c.rel, c.e, c.nrm, d.div
      |  FROM d$n d JOIN cand c ON c.query_id = d.query_id AND c.nn_id = d.nn_id),
      |s$n AS (
      |  SELECT query_id, nn_id, e, nrm, ($lam * rel - $oneMinus * div) AS mmr FROM (
      |    SELECT t.*, row_number() OVER (PARTITION BY query_id ORDER BY ($lam * rel - $oneMinus * div) DESC, nn_id) AS rn
      |    FROM e$n t) WHERE rn = 1),
      |picks$n AS (SELECT * FROM picks${n - 1} UNION ALL SELECT query_id, nn_id, e, nrm FROM s$n)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to k).map(n =>
      s"SELECT query_id, CAST($n AS BIGINT) AS rank, nn_id, mmr FROM s$n")
      .mkString("\nUNION ALL ")
    s"""WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
      |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, n.vec_id AS nn_id,
      |    list_sum(list_transform(range(1, 65), i -> (n.e[i] / n.nrm) * (q.qe[i] / q.qn))) AS rel,
      |    n.e, n.nrm
      |  FROM q CROSS JOIN n),
      |cand AS (
      |  SELECT query_id, nn_id, rel, e, nrm FROM (
      |    SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, nn_id) AS rk
      |    FROM scored s) WHERE rk <= 20),
      |s1 AS (
      |  SELECT query_id, nn_id, e, nrm, ($lam * rel - $oneMinus * 0.0) AS mmr FROM (
      |    SELECT c.*, row_number() OVER (PARTITION BY query_id ORDER BY ($lam * rel - $oneMinus * 0.0) DESC, nn_id) AS rn
      |    FROM cand c) WHERE rn = 1),
      |picks1 AS (SELECT query_id, nn_id, e, nrm FROM s1),
      |$steps
      |$unions
      |ORDER BY query_id, rank""".stripMargin
  }

  private[graft] val SimhashOracleSql: String = {
    val bits = 60; val bandBits = 15
    val votes = (0 until bits).map(i =>
      s"sum(CASE WHEN (hh >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(",\n    ")
    val bitsSum = (0 until bits).map(i =>
      s"CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val bandVals = (0 until 4).map(b =>
      s"(sim >> ${b * bandBits}) & ${(1L << bandBits) - 1}").mkString(", ")
    s"""WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
      |tok AS (SELECT doc_id, unnest(tokens) AS t FROM tk),
      |h AS (SELECT doc_id, CAST(concat('0x', substring(md5(concat('0', '|', t)), 1, 15)) AS BIGINT) AS hh FROM tok),
      |votes AS (SELECT doc_id,
      |    $votes
      |  FROM h GROUP BY doc_id),
      |sig AS (SELECT doc_id, $bitsSum AS sim FROM votes),
      |b AS (SELECT doc_id, sim, unnest([0, 1, 2, 3]) AS band, unnest([$bandVals]) AS bh FROM sig),
      |cand AS (
      |  SELECT ba.doc_id AS a, bb.doc_id AS b, ba.sim AS sa, bb.sim AS sb
      |  FROM b ba JOIN b bb ON ba.band = bb.band AND ba.bh = bb.bh AND ba.doc_id < bb.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM cand
      |WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of the portable winnowing pipeline (5-gram hashes,
    * window-4 sliding min, distinct fingerprints, shared-count ≥ 3) —
    * mirrors `Dedup.winnowingNearDups(..., portable = true)`. */
  /** Winnowing pipeline as a reusable CTE block ending in `p` (the
    * near-dup pairs) — shared by q61 (the pairs themselves), q83
    * (connected components over them), and q105 (cluster-aware split,
    * which scopes the corpus with `where`). */
  private[graft] def winnowingPairsCtes(where: String, minShared: Int = 3): String =
    s"""tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents$where),
      |tok AS (
      |  SELECT doc_id, unnest(tokens) AS t, unnest(range(1, len(tokens) + 1)) AS pos FROM tk),
      |g AS (
      |  SELECT doc_id, pos,
      |    CAST(concat('0x', substring(md5(concat('0', '|',
      |      concat_ws(' ', t, lead(t, 1) OVER w, lead(t, 2) OVER w,
      |                lead(t, 3) OVER w, lead(t, 4) OVER w))), 1, 15)) AS BIGINT) AS hh,
      |    lead(t, 4) OVER w IS NOT NULL AS fullgram
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |f AS (
      |  SELECT doc_id,
      |    min(hh) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
      |  FROM g WHERE fullgram),
      |d AS (SELECT DISTINCT doc_id, fingerprint FROM f),
      |p AS (
      |  SELECT fa.doc_id AS a, fb.doc_id AS b, count(*) AS n_shared
      |  FROM d fa JOIN d fb ON fa.fingerprint = fb.fingerprint AND fa.doc_id < fb.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= $minShared)""".stripMargin

  private[graft] val WinnowingPairsCtes: String = winnowingPairsCtes("")

  /** DuckDB replay of the log-free BM25 contract (q131): per-term tf
    * columns, ONE single-row stats CTE, and the identical
    * left-associated IEEE expression tree. Every numeric literal is
    * forced through CAST(.. AS DOUBLE): DuckDB parses `1.2` as
    * DECIMAL(2,1) and would fold decimal-decimal arithmetic EXACTLY
    * where doubles round, diverging from Spark's double fold. */
  private[graft] val Bm25OracleSql: String = bm25Sql(20)

  private[graft] def bm25Sql(topK: Int): String = {
    val terms = Seq("data", "model", "learning")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val contrib = terms.indices.map { i =>
      s"(${d("n")} - ${d(s"df$i")} + ${d("0.5")}) / (${d(s"df$i")} + ${d("0.5")})" +
        s" * (${d(s"tf$i")} * (${d("1.2")} + ${d("1.0")}))" +
        s" / (${d(s"tf$i")} + ${d("1.2")} * (${d("1.0")} - ${d("0.75")}" +
        s" + ${d("0.75")} * ${d("dl")} / (${d("s")} / ${d("n")})))"
    }.mkString("\n    + ")
    s"""WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
      |c AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
      |    $tfCols
      |  FROM tk),
      |st AS (
      |  SELECT count(*) AS n, sum(dl) AS s,
      |    $dfCols
      |  FROM c),
      |sc AS (
      |  SELECT doc_id,
      |    $contrib AS score
      |  FROM c CROSS JOIN st)
      |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT $topK""".stripMargin
  }

  /** Benford first-digit expectation, floor(1e6·log10(1 + 1/d)) —
    * driver-computed once, shipped to both engines as literals
    * (in-engine log10 is not bit-portable; 9 integers are). */
  private[graft] val BenfordPpm: Seq[(Long, Long)] =
    (1 to 9).map(dd =>
      (dd.toLong, math.floor(1e6 * math.log10(1 + 1.0 / dd)).toLong))

  /** Half-life-7-day decay weights, floor(1e6·2^(−age/7)) for ages
    * 0–40 — computed ONCE here and shipped to BOTH engines (q218's
    * Spark join table and its oracle's VALUES list), because pow() is
    * not bit-portable across engines but a literal table is. */
  private[graft] val RecencyWeights: Seq[(Long, Long)] =
    (0 to 40).map(k =>
      (k.toLong, math.floor(1e6 * math.pow(2.0, -k / 7.0)).toLong))

  /** The q113 hashing-trick classifier replay as a reusable CTE block
    * ending in `scored` (doc_id, score) — shared by q113 and the
    * eval-tier contracts q205 (calibration) / q206 (confusion). */
  private[graft] val ScoredDocsCtes: String =
    """tk AS (
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
      |  FROM hb JOIN w USING (bucket) GROUP BY 1),
      |scored AS (
      |  SELECT d.doc_id, coalesce(CAST(agg.sw AS DOUBLE) / CAST(1000 * agg.nf AS DOUBLE), 0.0) AS score
      |  FROM documents d LEFT JOIN agg USING (doc_id))""".stripMargin

  /** DuckDB replay of the retrieval-eval contract (q199): one BM25
    * block per query term (the [[bm25Sql]] IEEE recipe, single-term),
    * top-20 ranked, then floor-ppm MRR / hit@k / recall@k arithmetic
    * against the doc_id%10=3 relevance set. */
  private[graft] val RetrievalEvalSql: String = {
    val terms = Seq("data", "model", "learning")
    def d(x: String) = s"CAST($x AS DOUBLE)"
    val contrib =
      s"(${d("n")} - ${d("df")} + ${d("0.5")}) / (${d("df")} + ${d("0.5")})" +
        s" * (${d("tf")} * (${d("1.2")} + ${d("1.0")}))" +
        s" / (${d("tf")} + ${d("1.2")} * (${d("1.0")} - ${d("0.75")}" +
        s" + ${d("0.75")} * ${d("dl")} / (${d("s")} / ${d("n")})))"
    val blocks = terms.zipWithIndex.map { case (t, i) =>
      s"""c$i AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf FROM tk),
        |st$i AS (SELECT count(*) AS n, sum(dl) AS s,
        |    sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM c$i),
        |sc$i AS (SELECT doc_id, $contrib AS score FROM c$i CROSS JOIN st$i),
        |rk$i AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM sc$i ORDER BY score DESC, doc_id LIMIT 20),
        |m$i AS (SELECT '$t' AS term,
        |    min(CASE WHEN doc_id % 10 = 3 THEN rank END) AS first_rel_rank,
        |    CAST(sum(CASE WHEN doc_id % 10 = 3 AND rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10,
        |    CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_20
        |  FROM rk$i)""".stripMargin
    }.mkString(",\n")
    val union = terms.indices.map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS t FROM documents),
      |rel AS (SELECT count(*) AS nrel FROM documents WHERE doc_id % 10 = 3),
      |$blocks,
      |m AS ($union)
      |SELECT term, first_rel_rank,
      |  CAST(coalesce(1000000 // first_rel_rank, 0) AS BIGINT) AS rr_ppm,
      |  hits_at_10, hits_at_20,
      |  CAST((hits_at_20 * 1000000) // rel.nrel AS BIGINT) AS recall_at_20_ppm
      |FROM m CROSS JOIN rel ORDER BY term""".stripMargin
  }

  /** Duplicated-span pipeline (Lee et al. exact substring dedup) as a
    * reusable CTE block ending in `sp` (doc_id, span_start, span_end,
    * n_grams) with `tok` (doc_id, t, pos 1-based) also in scope —
    * shared by q114 (the spans) and q115 (removal). Mirrors
    * `Dedup.duplicatedSpans(gramLen = 8, minDocs = 2, portable)`. */
  private[graft] val DupSpanCtes: String =
    """tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(tokens) AS t, unnest(range(1, len(tokens) + 1)) AS pos FROM tk),
      |g AS (
      |  SELECT doc_id, pos - 1 AS pos0,
      |    CAST(concat('0x', substring(md5(concat('0', '|',
      |      concat_ws(' ', t, lead(t, 1) OVER w, lead(t, 2) OVER w, lead(t, 3) OVER w,
      |                lead(t, 4) OVER w, lead(t, 5) OVER w, lead(t, 6) OVER w,
      |                lead(t, 7) OVER w))), 1, 15)) AS BIGINT) AS hh,
      |    lead(t, 7) OVER w IS NOT NULL AS fullgram
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |gg AS (SELECT doc_id, pos0, hh FROM g WHERE fullgram),
      |hot AS (
      |  SELECT hh FROM (SELECT DISTINCT hh, doc_id FROM gg)
      |  GROUP BY hh HAVING count(*) >= 2),
      |dup AS (SELECT gg.doc_id, gg.pos0 FROM gg JOIN hot USING (hh)),
      |brk AS (
      |  SELECT doc_id, pos0,
      |    CASE WHEN max(pos0) OVER (PARTITION BY doc_id ORDER BY pos0
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 8 >= pos0
      |         THEN 0 ELSE 1 END AS is_new
      |  FROM dup),
      |isl AS (
      |  SELECT doc_id, pos0,
      |    sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos0
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM brk),
      |sp AS (
      |  SELECT doc_id, min(pos0) AS span_start, max(pos0) + 7 AS span_end,
      |    count(*) AS n_grams
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  private[graft] val WinnowingOracleSql: String =
    s"WITH $WinnowingPairsCtes\nSELECT a, b, n_shared FROM p ORDER BY a, b"

  /** Paragraph-dedup pipeline (Dolma/RefinedWeb line granularity) as a
    * reusable CTE block: `d2` is the derived MULTI-LINE corpus (the
    * fixture bodies carry no newlines, so boilerplate paragraphs are
    * planted arithmetically — a shared header on every doc, a promo
    * footer on every third, a unique tail elsewhere; exact-dup bodies
    * planted in the fixture become hot paragraphs on their own), `pp`
    * the positional segments, `hot` the ≥2-distinct-doc paragraph
    * hashes. Mirrors `Dedup.duplicatedParagraphs(minDocs = 2)`. */
  private[graft] val ParaDedupCtes: String =
    """d2 AS (
      |  SELECT doc_id,
      |    concat('shared header line', chr(10), text, chr(10),
      |      CASE WHEN doc_id % 3 = 0 THEN 'promo footer line'
      |           ELSE concat('unique tail ', CAST(doc_id AS VARCHAR)) END,
      |      CASE WHEN doc_id % 7 = 2 THEN concat(
      |          chr(10), 'self repeat ', CAST(doc_id AS VARCHAR),
      |          chr(10), 'self repeat ', CAST(doc_id AS VARCHAR))
      |        ELSE '' END) AS text
      |  FROM documents),
      |pp AS (
      |  SELECT doc_id, unnest(string_split(text, chr(10))) AS p,
      |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
      |  FROM d2),
      |dp AS (
      |  SELECT DISTINCT md5(p) AS para_hash, doc_id FROM pp
      |  WHERE len(trim(p)) > 0),
      |hot AS (
      |  SELECT para_hash, count(*) AS df FROM dp
      |  GROUP BY 1 HAVING count(*) >= 2)""".stripMargin

  /** Fixed merge list for the q122 BPE-encode contract — model data
    * shipped as literals on both sides (the q113 recipe). Chained
    * merges ('d a'→'da t'→'dat a') exercise multi-character symbols
    * and merge-order sensitivity. */
  private[graft] val BpeContractMerges: Seq[(String, String)] = Seq(
    ("d", "a"), ("da", "t"), ("dat", "a"), ("t", "h"), ("th", "e"),
    ("j", "o"), ("jo", "i"), ("joi", "n"), ("s", "t"), ("o", "r"),
    ("e", "r"), ("a", "n"))

  /** Direct KMV estimate over the full lineitem (q76) — ALSO the
    * oracle for the bounded-set merge contract q157: the global k-min
    * distinct set is contained in the union of per-shard k-min sets,
    * so the merged estimate equals the direct one. */
  private[graft] val KmvDirectOracleSql: String =
    """WITH dv AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
      |h AS (
      |  SELECT l_returnflag,
      |    CAST(concat('0x', substring(md5(concat('42', '|', CAST(l_orderkey AS VARCHAR))), 1, 14)) AS BIGINT)
      |      / 72057594037927936.0 AS f
      |  FROM dv),
      |r AS (
      |  SELECT l_returnflag, f,
      |    row_number() OVER (PARTITION BY l_returnflag ORDER BY f) AS rk,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM h)
      |SELECT l_returnflag,
      |  CASE WHEN n < 256 THEN CAST(n AS DOUBLE) ELSE 255.0 / f END AS est_distinct
      |FROM r WHERE rk = least(256, n) ORDER BY l_returnflag""".stripMargin

  /** Direct HLL estimate over the full lineitem (q91) — ALSO the
    * oracle for the merge contract q152: per-shard registers merged
    * by max are register-identical to the direct union sketch. */
  private[graft] val HllUnionOracleSql: String =
    s"""WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(concat('0x', substring(md5(concat('42', '|', CAST(l_orderkey AS VARCHAR))), 1, 14)) AS BIGINT) AS h
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag, h & 63 AS b,
        |    CASE WHEN (h >> 6) = 0 THEN 30
        |         ELSE least(30, 51 - length(bin(h >> 6))) END AS rho
        |  FROM h),
        |regs AS (
        |  SELECT l_returnflag, b, max(rho) AS r FROM b GROUP BY 1, 2),
        |s AS (
        |  SELECT l_returnflag,
        |    sum(${1L << 30} >> r) AS s, count(*) AS present
        |  FROM regs GROUP BY 1),
        |e AS (
        |  SELECT l_returnflag, 64 - present AS zeros,
        |    ${709L * 4096L * (1L << 30)}
        |      // (1000 * (s + (64 - present) * ${1L << 30})) AS raw
        |  FROM s)
        |SELECT l_returnflag,
        |  CAST(CASE WHEN raw <= 160 AND zeros > 0
        |    THEN ([${graft.ext.Sketches.HllLinearCounting.mkString(", ")}])[CAST(zeros AS INTEGER)]
        |    ELSE raw END AS BIGINT) AS est_distinct
        |FROM e ORDER BY l_returnflag""".stripMargin

  /** Direct count-min estimate over the full events stream (q95) —
    * ALSO the oracle for the merge contract q155: shard counter
    * matrices summed elementwise are matrix-identical to the direct
    * sketch. */
  private[graft] val CmDirectOracleSql: String =
    """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS val FROM events),
      |h AS (SELECT val,
      |  CAST(concat('0x', substring(md5(concat_ws('|', '42', val)), 1, 14)) AS BIGINT) AS a,
      |  CAST(concat('0x', substring(md5(concat_ws('|', '42', val)), 17, 14)) AS BIGINT) AS b
      |  FROM v),
      |pos AS (SELECT val, i, (a + i * b) % 256 AS bucket FROM h, range(4) t(i)),
      |counters AS (SELECT i, bucket, count(*) AS cnt FROM pos GROUP BY 1, 2),
      |dv AS (SELECT DISTINCT val, i, bucket FROM pos)
      |SELECT val, min(cnt) AS est_count
      |FROM dv JOIN counters USING (i, bucket)
      |GROUP BY val ORDER BY est_count DESC, val LIMIT 50""".stripMargin

  /** DuckDB replay of the SRP-LSH embedding near-dup pipeline: the 16
    * seeded hyperplanes are embedded as literals (Double.toString
    * round-trips exactly, so DuckDB parses the identical doubles), sign
    * bits → 4 bands of 4 → band equi-join → exact cosine ≥ 0.4. Mirrors
    * `Dedup.embeddingNearDups(threshold=0.4, dim=64, planes=16,
    * bandsOf=4)` bit for bit. */
  private[graft] val SrpOracleSql: String = {
    val planes = Similarity.planesFor(64, 16, 42L)
    def planeDot(p: Array[Double]): String = {
      val lst = p.map(_.toString).mkString(", ")
      s"list_sum(list_transform(range(1, 65), i -> v[i] * ([$lst])[i]))"
    }
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN ${planeDot(p)} >= 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n    ")
    val bandLists = (0 until 4).map(b =>
      "[" + (0 until 4).map(i => s"b${b * 4 + i}").mkString(", ") + "]").mkString(", ")
    s"""WITH v0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v0),
      |v AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS v FROM n),
      |bits AS (SELECT vec_id, v,
      |    $bitCols
      |  FROM v),
      |banded AS (SELECT vec_id, v, unnest([0, 1, 2, 3]) AS band, unnest([$bandLists]) AS bh FROM bits),
      |cand AS (
      |  SELECT ba.vec_id AS a, bb.vec_id AS b FROM banded ba
      |  JOIN banded bb ON ba.band = bb.band AND ba.bh = bb.bh AND ba.vec_id < bb.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT c.a, c.b,
      |    list_sum(list_transform(range(1, 65), i -> va.v[i] * vb.v[i])) AS cosine
      |  FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b)
      |SELECT a, b, cosine FROM scored WHERE cosine >= 0.4 ORDER BY a, b""".stripMargin
  }

  /** DuckDB replay of the FULL product-quantization pipeline with the
    * seeded codebooks as literals (the SRP recipe): per-subspace
    * argmax encode (dot − 0.5‖c‖², first index wins), per-query ADC
    * table, m lookups + left-to-right adds per candidate, top-k.
    * Mirrors `pqEncode`/`pqSearch` over `pqSeededBooks(64, 8, 16, 42)`
    * bit for bit. */
  private[graft] val PqOracleSql: String = {
    val books = Similarity.pqSeededBooks(64, 8, 16, 42L)
    val ds = books.ds
    def dotSql(vecExpr: String, off: Int, cw: Array[Double]): String = {
      val lst = cw.map(_.toString).mkString(", ")
      s"list_sum(list_transform(range(1, ${ds + 1}), i -> $vecExpr[i + $off] * ([$lst])[i]))"
    }
    val scoreCols = (0 until books.m).map { j =>
      (0 until books.ksub).map { cI =>
        s"${dotSql("v", j * ds, books.books(j)(cI))} - ${books.halfNormSq(j)(cI)}"
      }.mkString("[", ", ", "]") + s" AS s$j"
    }.mkString(",\n    ")
    val codeList = (0 until books.m)
      .map(j => s"list_position(s$j, list_max(s$j)) - 1").mkString("[", ", ", "]")
    val tCols = (0 until books.m).map { j =>
      (0 until books.ksub).map(cI => dotSql("v", j * ds, books.books(j)(cI)))
        .mkString("[", ", ", "]")
    }.mkString("[", ",\n      ", "]")
    val adcExpr = (1 to books.m).map(j => s"q.T[$j][e.codes[$j] + 1]").mkString(" + ")
    s"""WITH v0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n0 AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v0),
      |v AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS v FROM n0),
      |sc AS (SELECT vec_id, v,
      |    $scoreCols
      |  FROM v),
      |enc AS (SELECT vec_id, $codeList AS codes FROM sc),
      |qt AS (SELECT vec_id AS query_id, $tCols AS T FROM v WHERE vec_id < 5),
      |adc AS (
      |  SELECT q.query_id, e.vec_id AS nn_id, $adcExpr AS adc
      |  FROM enc e CROSS JOIN qt q),
      |r AS (
      |  SELECT query_id, nn_id, adc,
      |    row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, nn_id) AS rk
      |  FROM adc)
      |SELECT query_id, nn_id, round(adc, 4) AS adc, CAST(rk AS BIGINT) AS rank
      |FROM r WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Per-language stopword lists as DuckDB list literals — must mirror
    * [[graft.ext.TextOps.LangStopwords]] exactly. */
  private[graft] val LangListsSql: Seq[(String, String)] = Seq(
    "en" -> "'the','and','of','to','in','is','that','it','for','with'",
    "es" -> "'el','la','de','que','y','en','un','los','del','se'",
    "de" -> "'der','die','und','das','ist','von','mit','den','ein','zu'",
    "fr" -> "'le','la','et','les','des','un','une','du','est','dans'")

  /** SQL fragment: one stopword-hit-ratio column per language (s_en,
    * s_es, …) over a `tokens` list column. */
  private[graft] val LangScoreCols: String = LangListsSql.map { case (lang, list) =>
    s"CASE WHEN len(tokens) = 0 THEN 0.0 ELSE CAST(len(list_filter(tokens, x -> list_contains([$list], x))) AS DOUBLE) / CAST(len(tokens) AS DOUBLE) END AS s_$lang"
  }.mkString(",\n    ")

  /** SQL fragment: argmax over the per-language scores with Spark's
    * tie-break (equal scores → lexicographically GREATEST lang code,
    * matching array_max over (score, lang) structs), 'und' when no
    * list matched at all. */
  private[graft] val LangArgmaxSql: String =
    """CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
      |    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
      |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
      |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
      |    ELSE 'de' END""".stripMargin

  /** Shared SQL (runs verbatim in BOTH Spark SQL and DuckDB). */
  // sum_disc_price is rounded IN THE DECIMAL DOMAIN before the double
  // cast: the exact scale-8 sum reaches ~19 significant digits at
  // sf≥0.1, beyond double's 17, and Spark/DuckDB round that conversion
  // to ADJACENT ulps. round(…, 4) keeps the value exact (≤14 sig
  // digits) so both engines convert to the identical double.
  private[graft] val Q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private[graft] val Q3Sql =
    """SELECT o_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  o_orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15'
      |  AND l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  private[graft] val Q5Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  private[graft] val Q6Sql =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  private[graft] val Q12Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private[graft] val Q14Sql =
    """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'""".stripMargin

  // ------------------------------------------------------------------
  // TPC-H remainder through the D15 raw-SQL surface (r12 verdict item
  // 3): the same string runs verbatim in Spark SQL and DuckDB. Shapes
  // the earlier set (Q1/Q3/Q5/Q6/Q10/Q12/Q13/Q14/Q18) does not pin:
  // correlated scalar aggregates (Q2/Q17/Q20), correlated EXISTS
  // (Q4/Q21), nested NOT IN (Q16), scalar-subquery HAVING (Q11),
  // view round-trips (Q15), disjunctive join predicates (Q19), and
  // multi-way anti-joins (Q21/Q22). The fixture lacks partsupp,
  // l_commitdate/receiptdate, c_phone and p_container, so each query
  // is the standard TPC-H ANALOGUE over the columns that exist — the
  // plan shape is the contract, the filter constants are adapted.
  // Exactness: money sums ride DECIMAL(18,4), rounded in the decimal
  // domain before any double cast (the Q1Sql rule); count/min/max and
  // integral-double sums (l_quantity) are exact as-is.

  /** Q2 analogue: min-cost supplier per part via a join-correlated
    * scalar MIN subquery (no partsupp ⇒ lineitem is the part-supplier
    * association and l_extendedprice the cost). */
  private[graft] val Q2Sql =
    """SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
      |  l.l_extendedprice AS min_price
      |FROM part p
      |JOIN lineitem l ON p.p_partkey = l.l_partkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
      |  AND l.l_extendedprice = (
      |    SELECT min(l2.l_extendedprice)
      |    FROM lineitem l2
      |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey, min_price
      |LIMIT 100""".stripMargin

  /** Q4 analogue: order-priority checking via correlated EXISTS; the
    * lateness predicate is l_shipdate > o_orderdate (no commitdate /
    * receiptdate in the fixture) — a non-equi correlated reference. */
  private[graft] val Q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q7 analogue: bi-directional volume shipping between two nations,
    * yearly — the double-nation-role join (n1 supplier side, n2
    * customer side) with a symmetric pair filter. */
  private[graft] val Q7Sql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(round(sum(volume), 4) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4)) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
      |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q8 analogue: one nation's market share inside one region's
    * customer orders for one part type, yearly. The share divides two
    * decimal-rounded sums as ONE IEEE double division. */
  private[graft] val Q8Sql =
    """SELECT o_year,
      |  CAST(round(sum(CASE WHEN nation = 'NATION_3' THEN volume
      |      ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE)
      |    / CAST(round(sum(volume), 4) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4)) AS volume,
      |    n2.n_name AS nation
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |) all_nations
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  /** Q9 analogue: product-type profit by (supplier nation, year);
    * profit = revenue − p_retailprice·quantity (no ps_supplycost). */
  private[graft] val Q9Sql =
    """SELECT nation, o_year, CAST(round(sum(amount), 4) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))
      |      - CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS amount
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%gear%'
      |) profit
      |GROUP BY nation, o_year ORDER BY nation, o_year""".stripMargin

  /** Q11 analogue: important-stock scan — per-part value vs a scalar
    * share of the total, in EXACT integer cents (a decimal-literal
    * fraction would round differently per engine). TPC-H scales its
    * fraction with SF (0.0001/SF); here the cut is value > the
    * AVERAGE part value (× part count > total), which self-scales —
    * non-vacuous at every fixture SF with the same SQL string. */
  private[graft] val Q11Sql =
    """WITH pv AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))
      |      * CAST(l_quantity AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vc
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'
      |  GROUP BY l_partkey),
      |tot AS (SELECT CAST(sum(vc) AS DECIMAL(38,0)) AS total_cents,
      |    CAST(count(*) AS DECIMAL(38,0)) AS n_parts FROM pv)
      |SELECT l_partkey, CAST(vc AS BIGINT) AS value_cents
      |FROM pv CROSS JOIN tot
      |WHERE vc * n_parts > total_cents
      |ORDER BY value_cents DESC, l_partkey""".stripMargin

  /** Q15's VIEW body: per-supplier quarterly revenue — stored through
    * D7 (createView), re-planned on every getView. */
  private[graft] val Q15ViewSql =
    """SELECT l_suppkey AS supplier_no,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-04-01'
      |GROUP BY l_suppkey""".stripMargin

  /** Q15 top query: suppliers at the view's max revenue (double
    * equality is exact — both sides are the identical rounded sum). */
  private[graft] val Q15Sql =
    """SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
      |ORDER BY s_suppkey""".stripMargin

  /** Q16 analogue: supplier count per part profile with a NOT IN
    * supplier-exclusion subquery. */
  private[graft] val Q16Sql =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%9')
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q17 analogue: small-quantity-order revenue — the per-part
    * correlated 0.2·avg threshold. avg(l_quantity) is exact (integral
    * doubles), so the whole threshold is one deterministic double. */
  private[graft] val Q17Sql =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
      |  AND l_quantity < (
      |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Q19 analogue: disjunctive (OR-of-ANDs) join predicate — the
    * shape that forces predicate CNF handling around a join. */
  private[graft] val Q19Sql =
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |    AND l_quantity >= 1 AND l_quantity <= 11)
      |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |    AND l_quantity >= 10 AND l_quantity <= 20)
      |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |    AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin

  /** Q20 analogue: nested IN + doubly-correlated scalar aggregate
    * (the availqty > half-sum shape, over max since the fixture has
    * no partsupp). */
  private[graft] val Q20Sql =
    """SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l1.l_suppkey FROM lineitem l1
      |  WHERE l1.l_partkey IN (
      |      SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND l1.l_quantity > (
      |      SELECT 0.5 * max(l2.l_quantity) FROM lineitem l2
      |      WHERE l2.l_partkey = l1.l_partkey AND l2.l_suppkey = l1.l_suppkey))
      |ORDER BY s_suppkey""".stripMargin

  /** Q21 analogue: suppliers who were the ONLY late line on a
    * multi-supplier finished order — correlated EXISTS (another
    * supplier participated) + correlated NOT EXISTS (no OTHER supplier
    * was late), lateness = shipped after the order date. */
  private[graft] val Q21Sql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    JOIN orders o2 ON l3.l_orderkey = o2.o_orderkey
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o2.o_orderdate)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  /** Q22 analogue: global-customer anti-join — above-average balances
    * (scalar avg subquery as exact decimal-sum/count) among customers
    * with no RECENT orders (every fixture customer has at least one
    * order ever, so the anti-join is windowed to stay non-vacuous),
    * grouped by a nationkey-derived "country code". */
  private[graft] val Q22Sql =
    """SELECT cntrycode, count(*) AS numcust,
      |  CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, c_acctbal AS bal
      |  FROM customer c
      |  WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7)
      |    AND c_acctbal > (
      |      SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |      FROM customer c2
      |      WHERE c2.c_acctbal > 0.0
      |        AND c2.c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7))
      |    AND NOT EXISTS (
      |      SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
      |        AND o_orderdate >= TIMESTAMP '2000-01-01')
      |) custsale
      |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin

  private[graft] val SubquerySql =
    """SELECT c_custkey, c_acctbal FROM customer c
      |WHERE c_acctbal > (
      |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** Exact cosine top-k oracle (shared by q49 brute force and q50 IVF
    * at full probe — both are exact and bit-identical). */
  private[graft] val AnnTopkSql =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
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
      |ORDER BY query_id, rank""".stripMargin

  /** TPC-H Q4 shape: date-window + EXISTS semi-join decorrelation. */
  private[graft] val ExistsSql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13 shape: left-outer join + two-level count distribution. */
  private[graft] val CustDistSql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY c.c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q11 shape: group HAVING gated on a global scalar subquery. */
  private[graft] val HavingGlobalSql =
    """SELECT s_nationkey,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS val
      |FROM supplier GROUP BY s_nationkey
      |HAVING CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) >
      |  (SELECT CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) * 0.04 FROM supplier)
      |ORDER BY val DESC, s_nationkey""".stripMargin

  /** TPC-H Q22 shape: scalar-subquery gate + NOT EXISTS anti-join. */
  private[graft] val NotExistsSql =
    """SELECT c_nationkey, count(*) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      |FROM customer c
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  private[graft] val GroupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** DuckDB replay of the q297 bounded k-core peel: the synthetic
    * clique(32) + ladder(8) fixture via range arithmetic, then six
    * unrolled peel rounds (degree >= 3 gate + endpoint semi-joins) —
    * the SAME round-synchronous recursion the engine runs. */
  private[graft] val KcoreOracleSql: String = {
    val rounds = (1 to 6).map(i =>
      s"""k$i AS (SELECT a FROM e${i - 1} GROUP BY a HAVING count(*) >= 3),
         |e$i AS (SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN k$i ka ON ka.a = e.a JOIN k$i kb ON kb.a = e.b)""".stripMargin)
      .mkString(",\n")
    s"""WITH cl AS (
       |  SELECT (r.range // 32) + 1 AS a, (r.range % 32) + 1 AS b
       |  FROM range(0, 1024) r WHERE (r.range // 32) + 1 < (r.range % 32) + 1),
       |ra AS (SELECT r.range + 101 AS a, r.range + 102 AS b FROM range(0, 7) r
       |  UNION ALL SELECT r.range + 201, r.range + 202 FROM range(0, 7) r),
       |ru AS (SELECT r.range + 101 AS a, r.range + 201 AS b FROM range(0, 8) r),
       |und AS (SELECT a, b FROM cl UNION ALL SELECT a, b FROM ra
       |  UNION ALL SELECT a, b FROM ru),
       |e0 AS (SELECT DISTINCT a, b FROM (
       |  SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM und
       |  UNION ALL SELECT CAST(b AS BIGINT), CAST(a AS BIGINT) FROM und)),
       |$rounds
       |SELECT a AS node, count(*) AS degree FROM e6 GROUP BY 1 ORDER BY 1""".stripMargin
  }


  /** DuckDB replay of the q302 LSH recall/precision audit: exhaustive
    * exact-Jaccard ground truth via the shared-shingle join (complete
    * for J > 0 — any such pair shares a shingle), the q45 signature/
    * banding CTEs for the candidates, one (a, b) overlap count. */
  private[graft] val LshRecallOracleSql: String = {
    val k = 16; val bands = 4; val r = k / bands
    val hCols = (0 until k).map(i => s"min(ha + $i * hb) AS h$i").mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (0 until r).map(i => s"h${b * r + i}").mkString(", '|', ")
      s"SELECT doc_id, $b AS band, md5(concat('$b', '|', $parts)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS tokens FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(tokens) >= 3 THEN list_distinct(list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))) ELSE [] END AS s FROM tk),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |shared AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b FROM ex a
      |  JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sized AS (SELECT doc_id, s, len(s) AS n FROM sh),
      |truth AS (
      |  SELECT shared.a, shared.b FROM shared
      |  JOIN sized sa ON sa.doc_id = shared.a JOIN sized sb ON sb.doc_id = shared.b
      |  WHERE CASE WHEN sa.n + sb.n - len(list_intersect(sa.s, sb.s)) = 0 THEN 0.0
      |    ELSE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      |      / CAST(sa.n + sb.n - len(list_intersect(sa.s, sb.s)) AS DOUBLE) END >= 0.5),
      |hx AS (SELECT doc_id,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', g)), 1, 14)) AS BIGINT) AS ha,
      |    CAST(concat('0x', substring(md5(concat_ws('|', '0', g)), 17, 14)) AS BIGINT) AS hb
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
      |cnt AS (SELECT
      |    (SELECT count(*) FROM truth) AS n_truth,
      |    (SELECT count(*) FROM cand) AS n_candidates,
      |    (SELECT count(*) FROM truth t JOIN cand c ON c.a = t.a AND c.b = t.b) AS n_hit)
      |SELECT CAST(n_truth AS BIGINT) AS n_truth,
      |  CAST(n_candidates AS BIGINT) AS n_candidates,
      |  CAST(n_hit AS BIGINT) AS n_hit,
      |  CASE WHEN n_truth > 0
      |    THEN CAST((CAST(n_hit AS HUGEINT) * 1000000) // n_truth AS BIGINT)
      |    ELSE NULL END AS recall_ppm,
      |  CASE WHEN n_candidates > 0
      |    THEN CAST((CAST(n_hit AS HUGEINT) * 1000000) // n_candidates AS BIGINT)
      |    ELSE NULL END AS precision_ppm
      |FROM cnt""".stripMargin
  }

}
