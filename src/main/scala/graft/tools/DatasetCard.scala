package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fx
import graft.ext.{Dedup, Sampling, TextOps}

/** Dataset-card statistics for a document corpus — the one-page summary
  * a training-data pipeline publishes with every release (counts, token
  * distribution, language mix, duplication, quality, PII exposure),
  * computed with the library's own operators so the card IS an
  * end-to-end exercise of the curation surface.
  *
  * Everything is a DataFrame aggregate: one pass for the per-doc stats
  * (tokens / quality / repetition / PII / fingerprint — all codegen'd
  * per-row expressions feeding one aggregate), one distinct-count for
  * exact duplication, and one MinHash+LSH pass for the near-dup rate.
  * No collect() beyond the final one-row summaries.
  *
  * Usage: `runMain graft.tools.DatasetCard [sfDir]` — prints one JSON
  * line; [[cardFor]] is the library API (spec-covered at sf0.001).
  */
object DatasetCard {

  final case class Card(
      nDocs: Long, totalTokens: Long, tokensP50: Double, tokensP90: Double,
      langs: Map[String, Long],
      exactDupRate: Double, nearDupPairs: Long,
      qualityMean: Double, qualityP10: Double,
      dupWordFracMean: Double,
      piiEmails: Long, piiUrls: Long, piiIps: Long,
      lmScoreMean: Double = 0.0, lmScoreP10: Double = 0.0,
      gopherPassRate: Double = 0.0,
      maxSourceDriftPpm: Long = 0L, oovMeanPpm: Long = 0L,
      fkGradeP50Milli: Long = 0L)

  def cardFor(docs: DataFrame, idCol: String, textCol: String,
      langCol: Option[String] = None,
      nearDupThreshold: Double = 0.8,
      sourceCol: Option[String] = None): Card = {
    val t = col(textCol)
    val (ne, nu, ni) = TextOps.piiCounts(t)
    // single wide aggregate over per-row codegen'd expressions
    val row = docs.select(
      TextOps.tokenCountWs(t).as("tok"),
      TextOps.qualityScore(t).as("q"),
      ne.as("ne"), nu.as("nu"), ni.as("ni"),
      TextOps.fingerprintMd5(t).as("fp"),
      TextOps.gopherQuality(t).getField("pass").as("gp"),
      TextOps.readabilityStats(t).last.as("fkg"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("tok")).as("tot"),
        percentile_approx(col("tok"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("tok"), lit(0.9), lit(1000)).as("p90"),
        avg(col("q")).as("qmean"),
        percentile_approx(col("q"), lit(0.1), lit(1000)).as("qp10"),
        sum(col("ne")).as("ne"), sum(col("nu")).as("nu"), sum(col("ni")).as("ni"),
        countDistinct(col("fp")).as("nfp"),
        avg(col("gp")).as("gpr"),
        percentile_approx(col("fkg"), lit(0.5), lit(1000)).as("fkg50"))
      .head()
    val n = row.getAs[Long]("n")
    // empty corpus: every percentile/avg cell above is NULL — short-
    // circuit to a zeroed card instead of unboxing nulls below
    if (n == 0)
      return Card(0L, 0L, 0.0, 0.0, Map.empty, 0.0, 0L, 0.0, 0.0, 0.0,
        0L, 0L, 0L)
    val langs = langCol match {
      case Some(lc) => docs.groupBy(col(lc)).agg(count(lit(1)).as("c"))
        .collect().map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
      case None => Map.empty[String, Long]
    }
    // mean duplicate-word fraction from the repetition operator (its
    // own exchange; the per-doc frame is exactly q97's)
    val dupWord = TextOps.repetitionStats(docs, idCol, textCol)
      .agg(avg(col("dup_word_frac"))).head().getDouble(0)
    // release once counted: the card is the repeated-monitoring use
    // case, and each call would otherwise pin its shingle+signature caches
    val nd = Dedup.minhashNearDupsReleasable(docs, idCol, textCol,
      threshold = nearDupThreshold, k = 32, bands = 8)
    val nearDups = try nd.result.count() finally nd.release()
    // perplexity facet: a bigram LM trained on the corpus ITSELF scores
    // each doc's in-distribution-ness — the p10 tail is the natural
    // "inspect the weirdest decile" threshold for a release review
    val lmRow = TextOps.lmScore(docs, idCol, textCol,
        TextOps.trainBigramLm(docs, idCol, textCol, buckets = 256),
        buckets = 256)
      .agg(avg(col("lm_score")).as("m"),
        percentile_approx(col("lm_score"), lit(0.1), lit(1000)).as("p10"))
      .head()
    Card(
      nDocs = n,
      totalTokens = row.getAs[Long]("tot"),
      tokensP50 = row.getAs[Number]("p50").doubleValue(),
      tokensP90 = row.getAs[Number]("p90").doubleValue(),
      langs = langs,
      exactDupRate =
        if (n == 0) 0.0 else 1.0 - row.getAs[Long]("nfp").toDouble / n,
      nearDupPairs = nearDups,
      qualityMean = row.getAs[Double]("qmean"),
      qualityP10 = row.getAs[Number]("qp10").doubleValue(),
      dupWordFracMean = dupWord,
      piiEmails = row.getAs[Long]("ne"),
      piiUrls = row.getAs[Long]("nu"),
      piiIps = row.getAs[Long]("ni"),
      lmScoreMean = lmRow.getAs[Double]("m"),
      lmScoreP10 = lmRow.getAs[Number]("p10").doubleValue(),
      gopherPassRate = row.getAs[Double]("gpr"),
      // provenance drift: the WORST source's length-profile TV vs the
      // rest of the corpus (the q174 auditor) — a release whose max
      // drift jumped needs a look before training sees it
      maxSourceDriftPpm = sourceCol.map { sc =>
        graft.ext.Sketches.histDriftTV(
            docs.withColumn("__len", length(t)), sc, "__len",
            0.0, 8192.0, 512)
          .agg(max(col("tv_ppm"))).head().getLong(0)
      }.getOrElse(0L),
      // vocabulary coverage: mean per-doc OOV rate against the
      // corpus's own top-512 word list (the q182 auditor)
      oovMeanPpm = {
        val o = TextOps.oovRate(docs, idCol, textCol, vocabSize = 512)
          .agg(avg(col("oov_ppm"))).head()
        if (o.isNullAt(0)) 0L else o.getDouble(0).round
      },
      // readability: the median Flesch-Kincaid milli-grade (q203's
      // per-doc statistic) - a release drifting toward minified junk
      // or anchor-text soup moves this before eyeballs catch it
      fkGradeP50Milli =
        if (row.isNullAt(row.fieldIndex("fkg50"))) 0L
        else row.getAs[Number]("fkg50").longValue())
  }

  def toJson(c: Card): String = {
    // lang values are data — escape them before they become JSON keys
    val langs = c.langs.toSeq.sortBy(_._1)
      .map { case (l, n) => s"${graft.util.Json.str(l)}:$n" }.mkString("{", ",", "}")
    f"""{"metric":"dataset_card","n_docs":${c.nDocs},"total_tokens":${c.totalTokens},""" +
      f""""tokens_p50":${c.tokensP50}%.1f,"tokens_p90":${c.tokensP90}%.1f,""" +
      f""""langs":$langs,"exact_dup_rate":${c.exactDupRate}%.4f,""" +
      f""""near_dup_pairs":${c.nearDupPairs},"quality_mean":${c.qualityMean}%.4f,""" +
      f""""quality_p10":${c.qualityP10}%.4f,"dup_word_frac_mean":${c.dupWordFracMean}%.4f,""" +
      f""""pii_emails":${c.piiEmails},"pii_urls":${c.piiUrls},"pii_ips":${c.piiIps},""" +
      f""""lm_score_mean":${c.lmScoreMean}%.4f,"lm_score_p10":${c.lmScoreP10}%.4f,""" +
      f""""gopher_pass_rate":${c.gopherPassRate}%.4f,""" +
      f""""max_source_drift_ppm":${c.maxSourceDriftPpm},"oov_mean_ppm":${c.oovMeanPpm},""" +
      s""""fk_grade_p50_milli":${c.fkGradeP50Milli}}"""
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local()
    val docs = Fx.t(spark, dir, "documents")
    println(toJson(cardFor(docs, "doc_id", "text", langCol = Some("lang"),
      sourceCol = Some("source"))))
    spark.stop()
  }
}
