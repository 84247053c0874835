package graft.tools

import graft.SparkSpec
import graft.core.Fx

class DatasetCardSpec extends SparkSpec {
  import spark.implicits._

  test("dataset card over the fixture corpus: totals, mix, and rates are coherent") {
    val docs = Fx.t(spark, sfDir, "documents")
    val n = docs.count()
    val card = DatasetCard.cardFor(docs, "doc_id", "text",
      langCol = Some("lang"), nearDupThreshold = 0.5,
      sourceCol = Some("source"))
    assert(card.nDocs == n)
    // new audit facets: drift is a TV ppm (bounded), the corpus's own
    // top-512 vocab should cover most of a ~5k-word fixture vocabulary
    assert(card.maxSourceDriftPpm > 0 && card.maxSourceDriftPpm <= 1000000L)
    assert(card.oovMeanPpm >= 0 && card.oovMeanPpm < 1000000L)
    // readability facet: a real median milli-grade, inside the FK
    // formula's plausible envelope for non-empty prose
    assert(card.fkGradeP50Milli != 0L &&
      card.fkGradeP50Milli > -16000L && card.fkGradeP50Milli < 40000L,
      s"fkGradeP50Milli ${card.fkGradeP50Milli}")
    assert(card.langs.values.sum == n, "language mix must partition the corpus")
    assert(card.totalTokens > 0 && card.tokensP50 > 0)
    assert(card.tokensP90 >= card.tokensP50)
    assert(card.exactDupRate >= 0.0 && card.exactDupRate < 1.0)
    assert(card.qualityMean > 0.0 && card.qualityMean <= 1.0)
    assert(card.qualityP10 <= card.qualityMean)
    assert(card.dupWordFracMean >= 0.0 && card.dupWordFracMean < 1.0)
    assert(card.gopherPassRate >= 0.0 && card.gopherPassRate <= 1.0)
    // the word-soup fixture carries no natural PII
    assert(card.piiEmails == 0 && card.piiUrls == 0 && card.piiIps == 0)
    // JSON line is well-formed enough to round-trip the headline facts
    val json = DatasetCard.toJson(card)
    assert(json.startsWith("""{"metric":"dataset_card""""))
    assert(json.contains(s""""n_docs":$n"""))
  }

  test("empty corpus yields a zeroed card; pathological lang keys escape in JSON") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val card = DatasetCard.cardFor(empty, "doc_id", "text")
    assert(card == DatasetCard.Card(0L, 0L, 0.0, 0.0, Map.empty, 0.0, 0L,
      0.0, 0.0, 0.0, 0L, 0L, 0L))
    // a lang value with quote/backslash/control chars must not produce
    // malformed JSON keys
    val weird = card.copy(langs = Map("e\"n\\x\n" -> 3L))
    val json = DatasetCard.toJson(weird)
    // parse, not byte-match: the quote, the backslash and the control
    // char must each decode back to the original key
    val langs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json).get("langs")
    assert(langs.size == 1 && langs.path("e\"n\\x\n").asLong(-1L) == 3L, json)
  }

  test("dataset card surfaces planted duplication and PII") {
    val base = "the quick brown fox jumps over the lazy dog and runs far into the forest"
    val docs = Seq(
      (1L, base), (2L, base),                      // exact dup pair
      (3L, base.replace("forest", "woods")),       // near dup of 1/2
      (4L, "independent content mentioning a@b.com and http://x.ex plus 10.0.0.1")
    ).toDF("doc_id", "text")
    val card = DatasetCard.cardFor(docs, "doc_id", "text", nearDupThreshold = 0.5)
    assert(card.nDocs == 4 && card.langs.isEmpty)
    assert(math.abs(card.exactDupRate - 0.25) < 1e-9) // 4 docs, 3 distinct
    assert(card.nearDupPairs >= 2) // (1,2) and at least one of (1,3)/(2,3)
    assert(card.piiEmails == 1 && card.piiUrls == 1 && card.piiIps == 1)
  }
}
