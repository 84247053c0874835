package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextSignals, TextSignalsConsts}

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extensions per SURVEY §2.4; the reference itself has no text ops).
  *
  * Nothing here is a UDF. The per-document signals a curation pass
  * reads together — [[normalize]], [[gopherQuality]], [[qualityScore]],
  * [[langId]] — are fields of one native expression,
  * [[graft.functions.TextSignals]], which a projection evaluates once
  * per row however many of them it selects. The rest is built from
  * `org.apache.spark.sql.functions` (codegen'd Catalyst expressions).
  * Every per-row operator is a narrow transformation with zero
  * shuffles.
  */
object TextOps {

  /** The [[graft.functions.TextSignals]] struct of `c` with the default
    * word lists; `lists` replaces the language-ID lists. */
  private def signals(c: Column, lists: Map[String, Seq[String]] = LangStopwords): Column =
    TextSignals.column(c, TextSignalsConsts(EnglishStopwords, GopherRequiredWords,
      lists.toSeq.sortBy(_._1)))

  /** Canonical text normalization: lowercase, trim spaces, collapse
    * whitespace — `regexp_replace(lower(trim(c)), "\\s+", " ")`. */
  def normalize(c: Column): Column = signals(c).getField("norm")

  /** Word tokens: lowercase, split on non-alphanumerics, drop empties. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** BPE-ish token count: alpha runs, single digits, and isolated
    * punctuation each count as one token (a cheap proxy for byte-pair
    * tokenizer length, good enough for data-selection heuristics). */
  def tokenCountBpe(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).cast("long")

  /** Punctuation count / ratio (quality-scoring component). */
  def punctCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[.,!?;:]", ""))).cast("long")

  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(punctCount(c).cast("double") / length(c).cast("double"))

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from", "this", "be")

  /** Stopword hits among tokens (counts occurrences, not distinct). */
  def stopwordCount(tokensCol: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val stops = array(stopwords.map(lit): _*)
    size(filter(tokensCol, t => array_contains(stops, t))).cast("long")
  }

  def stopwordRatio(tokensCol: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    when(size(tokensCol) === 0, lit(0.0))
      .otherwise(stopwordCount(tokensCol, stopwords).cast("double") /
        size(tokensCol).cast("double"))

  // -------- codegen'd text-based twins of the token-based counters.
  // A token is a maximal [a-z0-9]+ run of lower(text), so counting
  // boundary-guarded stopword matches with regexp_count is VALUE-
  // identical to filtering the token array — but regexp_count is a
  // codegen'd expression while the higher-order `filter` lambda is
  // interpreted per row × per language. Measured at sf0.1: the langId /
  // quality cluster (q41-q43, q60) drops ~2×.

  /** Number of word tokens — `size(tokens(c))` without building the array. */
  def tokenCount(c: Column): Column = regexp_count(lower(c), lit("[a-z0-9]+")).cast("long")

  private def stopRegex(stopwords: Seq[String]): String =
    s"(?<![a-z0-9])(?:${stopwords.mkString("|")})(?![a-z0-9])"

  /** Stopword occurrences straight off the text (boundary-guarded regex
    * — same count as filtering the token array). */
  def stopwordCountText(c: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    regexp_count(lower(c), lit(stopRegex(stopwords))).cast("long")

  def stopwordRatioText(c: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(0.0))
      .otherwise(stopwordCountText(c, stopwords).cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0,1]: length band + stopword presence −
    * punctuation excess, `greatest(0, least(1, len·0.5 + stop·0.5 −
    * punct·0.25))` over `least(length / 500, 1)`, `least(4 ·`
    * [[stopwordRatioText]]`, 1)` and `least(2 ·` [[punctRatio]]`, 1)`.
    * Deterministic, order-independent. */
  def qualityScore(text: Column): Column = signals(text).getField("quality")

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic. Real pipelines plug in bigger lists; the
    * mechanism (per-language hit-ratio, argmax) is the point. */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del", "se"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"))

  /** Language-ID: per-language stopword hit ratio ([[stopwordRatioText]]
    * of each list), argmax, ties to the later language code. Returns
    * the language code, or "und" when nothing matches. Each list must
    * be non-empty and hold `[a-z0-9]+` words only. */
  def langId(text: Column, lists: Map[String, Seq[String]] = LangStopwords): Column =
    signals(text, lists).getField("lang")

  /** Seeded 60-bit ENGINE-PORTABLE hash: first 15 hex chars of
    * md5("seed|value") — reproducible in DuckDB/Postgres, unlike
    * xxhash64. Shared by the `portable` modes of MinHash / SimHash /
    * winnowing so their DuckDB oracles replay the pipelines exactly. */
  private[ext] def portableHash64(seed: Int, c: Column): Column =
    conv(substring(md5(concat_ws("|", lit(seed.toString), c)), 1, 15), 16, 10)
      .cast("long")

  // --------------------------------------------------------- PII scrub
  // Dolma/C4-style masking for training-data curation. Patterns are
  // deliberately dialect-portable (plain classes + bounded repeats —
  // the URL terminator class spells out space/tab/CR/LF rather than
  // \s, and must: a bare [^ ]+ would swallow the next LINE into the
  // sentinel when a URL ends a line;
  // valid and IDENTICAL in Java regex and RE2/DuckDB, no lookarounds,
  // no \b) so the DuckDB oracle replays the scrub character-for-
  // character. Order matters and is fixed: emails first (contain
  // dot-runs an IP pattern could clip), then URLs (swallow embedded
  // IPs/hosts), then bare IPs.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \t\n\r]+"
  /** KNOWN RESIDUE (the price of portability): the pattern is
    * unanchored — word boundaries and lookarounds are exactly the
    * constructs RE2/DuckDB and Java disagree on (or lack), and a
    * consuming terminator class would scrub the terminator character
    * too. So it matches INSIDE longer dotted-digit runs and does not
    * validate octet range: '10.0.0.1000' scrubs to '<IP>0',
    * '1.2.3.4.5' to '<IP>.5', and version strings like '1.2.3.4'
    * scrub entirely. For PII masking this errs toward over-scrubbing
    * (never leaks a real IP); audit counts inherit the same bias. */
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Replace emails/URLs/IPv4s with sentinel tokens — all-occurrence,
    * codegen'd `regexp_replace`, zero shuffles. The sentinel tokens
    * keep the document's token structure (a downstream token counter
    * sees one token per redaction, not a hole). */
  def scrubPii(text: Column,
      emailToken: String = "<EMAIL>", urlToken: String = "<URL>",
      ipToken: String = "<IP>"): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, emailToken),
        UrlRe, urlToken),
      IpRe, ipToken)

  /** Per-type PII hit counts (for audit dashboards / drop thresholds).
    * Counted in the same fixed order on progressively-scrubbed text,
    * so a URL's embedded host is never double-counted as an IP. */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterUrl = regexp_replace(afterEmail, UrlRe, "<URL>")
    (regexp_count(text, lit(EmailRe)).cast("long"),
      regexp_count(afterEmail, lit(UrlRe)).cast("long"),
      regexp_count(afterUrl, lit(IpRe)).cast("long"))
  }

  // ------------------------------------------------ Gopher quality rules
  // MassiveText document-quality heuristics (Rae et al. 2021, "Scaling
  // Language Models: Methods, Analysis & Insights from Training
  // Gopher", appendix A1.1) — the rule set most LLM curation pipelines
  // start from. Every counter is one field of the TextSignals pass
  // over the raw text (no token arrays, zero shuffles); the DuckDB
  // oracle replays each with `regexp_extract_all`/list lambdas.

  /** Gopher's "required word" list: a doc must contain ≥2 distinct. */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** All Gopher rule metrics plus the composite pass flag, as one
    * struct (thresholds per the paper: 50 ≤ words ≤ 100k, 3 ≤ mean
    * word length ≤ 10, symbol ratio ≤ 0.1, ≤90% bullet lines, ≤30%
    * ellipsis lines, ≥80% alphabetic words, ≥2 required words):
    *  - `word_count`: tokens, maximal `[a-z0-9]+` runs of `lower(c)`;
    *  - `mean_word_len`: their characters per token (0 if none);
    *  - `symbol_ratio`: '#' plus "..." (non-overlapping) plus '…', per
    *    token;
    *  - `bullet_ratio`: lines starting with '-', '*' or '•' (a line
    *    starts after \n, \r, U+0085, U+2028 or U+2029) over the \n
    *    count + 1;
    *  - `ellipsis_ratio`: line ends right after "..." or '…', over the
    *    same count;
    *  - `alpha_ratio`: tokens holding a letter, per token;
    *  - `required_hits`: required words present as tokens;
    *  - `pass`: 1 when every rule holds, else 0. */
  def gopherQuality(c: Column): Column = signals(c).getField("gopher")

  // ------------------------------ hashed-feature linear classifier
  // fastText/CCNet-style quality filtering (Joulin et al. 2016; Wenzek
  // et al. 2020): a linear model over hashed bag-of-n-gram features is
  // the standard LLM-corpus quality classifier. The model is DATA here
  // (a (bucket, weight) table, broadcast-joined), not code — swap in a
  // trained table at production scale; [[syntheticWeights]] provides
  // the deterministic md5-derived stand-in the cross-engine oracle
  // replays.

  /** Hashed bag-of-features rows: word unigrams plus bigrams, each
    * occurrence mapped to one of `buckets` buckets by the portable
    * 60-bit hash (the hashing trick — Weinberger et al. 2009). Returns
    * (idCol, bucket LONG), one row per feature OCCURRENCE (linear
    * models count repeats). Docs with no tokens produce no rows.
    *
    * Shape: ONE codegen'd posexplode + one lead window (the
    * [[shingleRows]] machinery — the interpreted `shingles()`
    * higher-order form measured ~6× slower here) emits each token row
    * as [unigram, bigram-starting-here]; a second explode + null
    * filter flattens the pair. The window's doc-id exchange is the
    * only shuffle, shared with the downstream per-doc aggregate. */
  def hashedFeatureRows(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    tok.select(col(idCol), col("__tok"),
        lead(col("__tok"), 1).over(w).as("__nxt"))
      .select(col(idCol), explode(array(col("__tok"),
        when(col("__nxt").isNotNull,
          concat_ws(" ", col("__tok"), col("__nxt"))))).as("__f"))
      .filter(col("__f").isNotNull)
      .select(col(idCol), (portableHash64(seed, col("__f")) % buckets).as("bucket"))
  }

  /** Deterministic md5-derived INTEGER weight table (bucket, weight ∈
    * [−1000, 1000]) standing in for trained classifier coefficients.
    * Integer weights keep the score's arithmetic exact until one final
    * division, so even the SCORES hash-match cross-engine (the q85
    * log-free trick applied to a classifier). */
  def syntheticWeights(spark: org.apache.spark.sql.SparkSession, buckets: Int,
      seed: Int = 11): org.apache.spark.sql.DataFrame =
    spark.range(buckets).select(col("id").as("bucket"),
      ((portableHash64(seed, col("id").cast("string")) % 2001) - 1000)
        .as("weight"))

  /** Per-bucket class feature counts from a LABELED corpus — the
    * sufficient statistics of naive-Bayes training, and the oracle-
    * expressible half of [[trainLogOddsWeights]] (pure integer counts,
    * replayed exactly by DuckDB — q116). Returns a COMPLETE
    * (bucket, pos, neg) table: every bucket in [0, buckets) gets a
    * row, absent ones as zeros.
    *
    * Shape: one feature explode + label equi-join on the doc id, ONE
    * hash aggregate on the bucket (map-side partial) — no windows, no
    * collect; the result is `buckets` rows whatever the corpus size. */
  def trainFeatureCounts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int,
      seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val fr = hashedFeatureRows(docs, idCol, textCol, buckets, seed)
      .join(docs.select(col(idCol), col(labelCol).cast("boolean").as("__y")), idCol)
    val perBucket = fr.groupBy(col("bucket")).agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
      sum(when(col("__y"), 0L).otherwise(1L)).as("__n"))
    spark.range(buckets).select(col("id").as("bucket"))
      .join(perBucket, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("__p"), lit(0L)).as("pos"),
        coalesce(col("__n"), lit(0L)).as("neg"))
  }

  /** Train hashed-feature log-odds weights from a LABELED corpus —
    * the in-engine naive-Bayes analogue of fastText's supervised mode
    * (CCNet trains exactly this shape against Wikipedia-vs-crawl
    * labels). weight(b) = round(1000 · ln(P̂(b|pos) / P̂(b|neg))) with
    * add-one smoothing, P̂ normalized by class feature totals. Returns
    * a COMPLETE (bucket, weight) table (absent buckets get the
    * smoothed prior) ready for [[linearModelScore]].
    *
    * Shape: [[trainFeatureCounts]] + one broadcast of the two class
    * totals. The count table is oracle-gated (q116); the weights
    * themselves are MODEL DATA — `ln` never needs cross-engine replay
    * (the q113 oracle gates the scoring path with the md5-derived
    * synthetic table instead). */
  def trainLogOddsWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int,
      seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val counts = trainFeatureCounts(docs, idCol, textCol, labelCol, buckets, seed)
    val totals = counts.agg(
      sum(col("pos")).as("__tp"), sum(col("neg")).as("__tn"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(lit(1000.0) * log(
          ((col("pos") + 1L).cast("double") /
            (coalesce(col("__tp"), lit(0L)) + buckets).cast("double")) /
          ((col("neg") + 1L).cast("double") /
            (coalesce(col("__tn"), lit(0L)) + buckets).cast("double"))))
          .cast("long").as("weight"))
  }

  /** Linear-classifier document score: Σ weight(bucket(feature)) /
    * (1000 · n_features), with the weight table broadcast-joined onto
    * the exploded feature rows. Docs with no features score 0.0 (every
    * input doc gets a row). Shape: narrow feature explode → broadcast
    * equi-join on the bucket (the model table is buckets rows — always
    * broadcast-small) → one hash aggregate on the doc id → left join
    * back to the doc-id spine. Integer sum, ONE double division —
    * bit-identical in any IEEE engine. */
  def linearModelScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, weights: org.apache.spark.sql.DataFrame,
      buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val agg = hashedFeatureRows(docs, idCol, textCol, buckets, seed)
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("weight")).as("__sw"), count(lit(1)).as("__nf"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__sw").cast("double") /
          (col("__nf") * lit(1000L)).cast("double"), lit(0.0)).as("score"))
  }

  // ------------------------- hashed-bigram LM (perplexity filtering)
  // CCNet's OTHER filter (Wenzek et al. 2020): score documents by a
  // language model's per-token log-probability and drop the tail. A
  // 5-gram KenLM doesn't distribute; the Spark-native shape is a
  // hashed-vocabulary bigram model — the MODEL IS DATA (a
  // (ctx, tok, weight) table, broadcast-joined), the score is one
  // integer aggregate per doc. Same contract recipe as the classifier:
  // integer milli-log-prob weights, one final division, so the scores
  // hash-match cross-engine (q117); training's sufficient statistics
  // (bigram counts) are pure integers and oracle-gated too (q118).

  /** Hashed bigram occurrences: (idCol, ctx, tok), one row per
    * adjacent token pair, each side mapped to [0, buckets) by the
    * portable 60-bit hash. Docs with < 2 tokens produce no rows.
    * Shape: ONE posexplode + lead window — the doc-id exchange is the
    * only shuffle (the [[hashedFeatureRows]] machinery). */
  def bigramRows(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    tok.select(col(idCol), col("__tok"),
        lead(col("__tok"), 1).over(w).as("__nxt"))
      .filter(col("__nxt").isNotNull)
      .select(col(idCol),
        (portableHash64(seed, col("__tok")) % buckets).as("ctx"),
        (portableHash64(seed, col("__nxt")) % buckets).as("tok"))
  }

  /** Bigram LM training counts: non-zero (ctx, tok, cnt) over the
    * corpus — the sufficient statistics of bigram-LM estimation
    * (oracle-gated, q118). ONE hash aggregate on (ctx, tok) after the
    * bigram pass; at most buckets² rows out, whatever the corpus. */
  def bigramLmCounts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame =
    bigramRows(docs, idCol, textCol, buckets, seed)
      .groupBy(col("ctx"), col("tok")).agg(count(lit(1)).as("cnt"))

  /** Train the hashed-bigram LM: a COMPLETE (ctx, tok, weight) table,
    * weight = round(1000 · ln P̂(tok|ctx)) with add-one smoothing over
    * the hashed vocabulary, so unseen bigrams get the smoothed floor
    * (KenLM-style backoff collapses to this under a hashed vocab).
    * The table is buckets² rows — keep `buckets` ≤ ~512 so the model
    * stays broadcast-small (512² = 262k rows ≈ 6 MB); the hashing
    * trick bounds model size regardless of corpus vocabulary.
    * Weights are MODEL DATA (`ln` never crosses engines — q117 gates
    * the scoring path with [[syntheticLmWeights]] instead). */
  def trainBigramLm(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val counts = bigramLmCounts(docs, idCol, textCol, buckets, seed)
    val ctxTotals = counts.groupBy(col("ctx")).agg(sum(col("cnt")).as("__ct"))
    // single Range leaf + div/mod, not a cross join of two ranges
    val grid = spark.range(buckets.toLong * buckets).select(
      (col("id") / buckets).cast("long").as("ctx"),
      (col("id") % buckets).as("tok"))
    grid.join(broadcast(counts), Seq("ctx", "tok"), "left")
      .join(broadcast(ctxTotals), Seq("ctx"), "left")
      .select(col("ctx"), col("tok"),
        round(lit(1000.0) * log(
          (coalesce(col("cnt"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("__ct"), lit(0L)) + buckets).cast("double")))
          .cast("long").as("weight"))
  }

  /** Deterministic md5-derived stand-in LM weight table (weight ∈
    * [−1400, 0] milli-log-prob — ln of probabilities down to ~e⁻¹·⁴)
    * for the cross-engine scoring contract, as [[syntheticWeights]] is
    * to the classifier. */
  def syntheticLmWeights(spark: org.apache.spark.sql.SparkSession, buckets: Int,
      seed: Int = 13): org.apache.spark.sql.DataFrame =
    spark.range(buckets.toLong * buckets).select(
        (col("id") / buckets).cast("long").as("ctx"),
        (col("id") % buckets).as("tok"))
      .select(col("ctx"), col("tok"),
        (lit(0L) - portableHash64(seed, concat_ws("|",
          col("ctx").cast("string"), col("tok").cast("string"))) % 1401L)
          .as("weight"))

  /** Per-document LM score: mean milli-log-prob of its bigrams / 1000
    * (≈ avg ln P(tok|ctx) — higher is more in-distribution; filter by
    * quantile downstream). Docs with < 2 tokens score 0.0, and every
    * input doc gets a row. Shape: narrow bigram explode → broadcast
    * equi-join on (ctx, tok) (the model table is COMPLETE, so inner) →
    * one hash aggregate on the doc id → left join back to the doc-id
    * spine. Integer sum, ONE double division — bit-identical in any
    * IEEE engine. */
  def lmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, lm: org.apache.spark.sql.DataFrame,
      buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val agg = bigramRows(docs, idCol, textCol, buckets, seed)
      .join(broadcast(lm), Seq("ctx", "tok"))
      .groupBy(col(idCol))
      .agg(sum(col("weight")).as("__sw"), count(lit(1)).as("__nb"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__sw").cast("double") /
          (col("__nb") * lit(1000L)).cast("double"), lit(0.0)).as("lm_score"))
  }

  /** Exact document fingerprint: md5 of normalized text. Stable across
    * engines (used by the exact-dedup oracle). */
  def fingerprintMd5(c: Column): Column = md5(normalize(c))

  /** 64-bit content fingerprint (xxhash64 of normalized text) — cheaper
    * than md5 for joins/grouping inside the engine. */
  def fingerprint64(c: Column): Column = xxhash64(normalize(c))

  /** READABILITY statistics (Flesch–Kincaid grade, engine-exact): the
    * quality-scoring complement to the Gopher rules — FK grade flags
    * both baby text (grade < 2: listicles, anchor-text soup) and
    * degenerate run-ons (grade > 20: minified junk, tables flattened
    * to prose). Counts are codegen'd regexp counters — whitespace
    * words, terminal-punctuation sentence runs (min 1), and the
    * classic vowel-GROUP syllable proxy — and the grade is the FK
    * formula 0.39·w/s + 11.8·syll/w − 15.59 carried as MILLI-units
    * under floor division on non-negative operands, so every engine
    * reproduces the same integers. Returns per-row columns
    * (words, sentences, vowel_groups, fk_grade_milli); empty text
    * reads words = 0 and NULL grade. */
  def readabilityStats(textCol: Column): Seq[Column] = {
    val words = tokenCountWs(textCol)
    val sentences =
      greatest(lit(1L), regexp_count(textCol, lit("[.!?]+")).cast("long"))
    val vg = regexp_count(lower(textCol), lit("[aeiouy]+")).cast("long")
    val grade = nonNegFloorDiv(words * 390L, sentences) +
      nonNegFloorDiv(vg * 11800L, words) - 15590L
    Seq(words.as("words"), sentences.as("sentences"),
      vg.as("vowel_groups"),
      when(words === 0L, lit(null).cast("long")).otherwise(grade)
        .as("fk_grade_milli"))
  }

  /** floor(a/b) for non-negative int64 (decimal-exact; Spark's `/` is
    * lossy double division). */
  private def nonNegFloorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)"))
      .cast("long")

  /** Word n-gram shingles (default 3) over a token array; empty when the
    * doc has fewer than n tokens.
    *
    * NOTE: higher-order-function expressions are interpreted, not
    * codegen'd — fine for occasional use, but on a hot path prefer
    * [[shingleRows]], which is ~5× faster (measured at sf0.1). */
  def shingles(tokensCol: Column, n: Int = 3): Column =
    when(size(tokensCol) >= n,
      transform(sequence(lit(0), size(tokensCol) - n),
        i => concat_ws(" ", slice(tokensCol, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the rolling-hash fingerprinting scheme): hash every
    * token k-gram, slide a window of `window` consecutive hashes, keep
    * each window's minimum. Any shared token run of ≥ window+k−1 tokens
    * between two documents is guaranteed to share a fingerprint, while
    * only ~1/window of the hashes are kept. All codegen'd (posexplode +
    * window lead/min); one shuffle on the doc id, reused for both
    * window passes. Returns (idCol, fingerprint BIGINT) distinct rows. */
  def winnowingFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 5, window: Int = 4,
      portable: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val seq = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = (0 until k).map(i =>
      if (i == 0) col("__tok") else lead(col("__tok"), i).over(seq))
    val gram = concat_ws(" ", parts: _*)
    val gramHash = if (portable) portableHash64(0, gram) else xxhash64(gram)
    val grams = tok.select(col(idCol), col("__pos"),
        gramHash.as("__h"),
        lead(col("__tok"), k - 1).over(seq).isNotNull.as("__full"))
      .filter(col("__full"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(0, window - 1)
    grams.select(col(idCol), min(col("__h")).over(win).as("fingerprint"))
      .distinct()
  }

  /** Top distinguishing terms per document by a LOG-FREE tf-idf-style
    * score: score = tf · (N+1)/(df+1), where tf is the term's count in
    * the doc, df the number of docs containing it, N the corpus size.
    * Skipping the logarithm keeps the ranking monotone in the same
    * quantities while making the arithmetic one correctly-rounded
    * division and one multiplication — bit-identical in any IEEE
    * engine, so the scores themselves are oracle-checkable (libm `ln`
    * is NOT guaranteed identical across engines).
    *
    * Shape: explode → two hash aggregates (tf per (doc, term), df per
    * term) + one equi-join on the term — all map-side-partial, no
    * windows until the final per-doc top-k. */
  def topTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int = 3,
      minTermLen: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // N stays LAZY — a broadcast one-row cross join, not an eager
    // count() pass at construction time
    val n = docs.agg(count(lit(1)).as("__n"))
    val tok = docs.repartition(col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) >= minTermLen)
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfc, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * ((col("__n") + 1).cast("double") / (col("df") + 1).cast("double")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Benchmark DECONTAMINATION: flag training documents that share at
    * least one word n-gram with an evaluation/benchmark corpus — the
    * contamination check every serious LLM data pipeline runs before
    * training (e.g. GPT-3 appendix C / Dolma's 13-gram overlap rule;
    * n = 13 is that published default, scaled down only for tiny
    * fixtures). Returns (idCol, n_hits = distinct shared n-grams > 0)
    * for CONTAMINATED docs only; clean docs don't appear.
    *
    * Scale shape: the benchmark side collapses to its DISTINCT shingle
    * set — small by construction (benchmarks are MBs, the corpus is
    * the 100 TB side) — so the semi-join broadcasts; the corpus side
    * streams through the codegen'd [[shingleRows]] explode without
    * ever shuffling its text. The per-doc hit count aggregates on the
    * shingle rows' existing doc-id partitioning. */
  def contaminatedDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, bench: org.apache.spark.sql.DataFrame,
      benchIdCol: String, benchTextCol: String,
      n: Int = 13): org.apache.spark.sql.DataFrame = {
    val docSh = shingleRows(docs, idCol, textCol, n)
    val benchSh = shingleRows(bench, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct()
    // explicit broadcast: the bench side comes through explode + window
    // + distinct, a shape the planner has no size statistics for — left
    // to the estimate, a multi-MB benchmark tips past the broadcast
    // threshold and the CORPUS shingles shuffle, which is exactly what
    // this operator exists to avoid (plan-locked in PlanShapeSpec)
    docSh.join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_hits"))
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    * repetitious documents are low-quality training data): per
    * document, the duplicate-WORD fraction (1 − distinct/total) and
    * the duplicate-BIGRAM fraction over the single-space token stream.
    * Boilerplate and template spam score high on the bigram fraction
    * even when individual word variety looks fine.
    *
    * Tokenization is a literal single-space split — deliberately the
    * simplest scheme two engines can't disagree on (the q97 contract
    * oracle replays it in DuckDB via string_split + list_distinct).
    *
    * Shape: posexplode + one window `lead` to stitch bigrams + one
    * aggregate, all on the SAME doc-id partitioning — a single
    * exchange end-to-end, no HOF lambdas in the loop (array_distinct
    * on long token arrays would be per-row interpreted work; the
    * explode + countDistinct form is codegen'd and map-side-partial).
    *
    * NULL-text documents are EXCLUDED from the output (made explicit
    * by the filter — posexplode of a NULL array would drop them
    * silently). Flag/handle nulls upstream; a repetition score for a
    * missing document is not 0, it is undefined.
    *
    * `boundedDocs = true` (default) computes the distinct counts via
    * `collect_set` sizes, which aggregate directly on the window's
    * doc-id partitioning — one data exchange end-to-end — but hold a
    * doc's full distinct word/bigram sets in one aggregation buffer:
    * right when document length is capped (as curation pipelines do
    * before scoring), wrong for unbounded crawl blobs, where a single
    * multi-hundred-MB document's bigram set can exhaust an executor.
    * Set it false for the spillable `countDistinct` form (two extra
    * Expand exchanges, nothing materialized per group).
    *
    * Returns (idCol, n_words long, dup_word_frac double,
    * n_bigrams long, dup_bigram_frac double). */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      boundedDocs: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.filter(col(textCol).isNotNull).select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__p", "__t")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    // concat (not concat_ws): NULL next-token must yield a NULL bigram
    // so count/countDistinct skip the last token's non-bigram
    val g = tok.withColumn("__g",
      concat(col("__t"), lit(" "), lead(col("__t"), 1).over(w)))
    val (ndw, ndb) =
      if (boundedDocs)
        (size(collect_set(col("__t"))).cast("long"),
          size(collect_set(col("__g"))).cast("long"))
      else (countDistinct(col("__t")), countDistinct(col("__g")))
    g.groupBy(col(idCol)).agg(
        count(lit(1)).as("n_words"),
        ndw.as("__ndw"),
        count(col("__g")).as("n_bigrams"),
        ndb.as("__ndb"))
      .select(col(idCol), col("n_words"),
        (lit(1.0) - col("__ndw").cast("double") / col("n_words").cast("double"))
          .as("dup_word_frac"),
        col("n_bigrams"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(lit(1.0) -
            col("__ndb").cast("double") / col("n_bigrams").cast("double"))
          .as("dup_bigram_frac"))
  }

  /** Word n-gram shingles as ROWS (id, shingle), with multiplicity —
    * the hot-path formulation: posexplode tokens, then window `lead` to
    * stitch each n-gram. Everything stays inside whole-stage codegen
    * except the token split, and the window runs on the existing hash
    * partitioning when the caller pre-partitioned by `idCol` (no extra
    * exchange). Dedup downstream where set semantics matter
    * (`collect_set` / `dropDuplicates`); MinHash needs no dedup — min
    * is multiplicity-invariant. */
  def shingleRows(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = (0 until n).map(i =>
      if (i == 0) col("__tok") else lead(col("__tok"), i).over(w))
    tok.select(col(idCol), concat_ws(" ", parts: _*).as("shingle"),
        lead(col("__tok"), n - 1).over(w).isNotNull.as("__full"))
      .filter(col("__full")).drop("__full")
  }

  // ----------------------------------------- BPE tokenizer (train + encode)

  /** Adjacent character-pair frequencies over the initial BPE symbol
    * vocabulary, weighted by word frequency — the sufficient statistic
    * the first merge decision reads (and the oracle-gated half of
    * [[trainBpeMerges]], like q116/q118 gate the other trainers).
    *
    * Shape: ONE word-count aggregate over the corpus (map-side
    * combine), then pairs explode from the WORD TABLE — vocabulary-
    * sized, not corpus-sized, so the second aggregate is tiny whatever
    * the input. Output: (pair, freq). */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val words = docs.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__wc"))
    words.filter(length(col("__w")) >= 2)
      .select(col("__wc"), explode(transform(
        sequence(lit(1), length(col("__w")) - 1),
        i => col("__w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("__wc")).as("freq"))
  }

  /** Train BPE merges the way every production trainer does — on the
    * WORD-FREQUENCY DICTIONARY, not the corpus (Sennrich et al. 2016
    * §3; the corpus is scanned exactly once, for the word counts): one
    * distributed word-count aggregate, a deterministic bounded cut to
    * the `maxWords` most frequent words (count desc, word asc — at any
    * corpus size the driver holds ≤ maxWords rows), then the classic
    * greedy merge loop over the in-memory dictionary. Deterministic
    * tie-break: highest pair frequency, then lexicographic pair.
    * Returns the ordered merge list — model data, like the classifier
    * weights and LM grid; apply with [[bpeSymbols]]/[[bpeTokenCount]],
    * which ship it as literals. */
  def trainBpeMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, maxWords: Int = 1 << 16): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val wf: Array[(Array[String], Long)] = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    var seqs = wf
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (merges.length < nMerges && continue) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- seqs; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) continue = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), f) => (-f, a, b) }._1
        merges += best
        seqs = seqs.map { case (syms, c) => (mergeOnce(syms, best), c) }
      }
    }
    merges.toSeq
  }

  /** One BPE merge pass over a symbol sequence, leftmost-first (the
    * driver-side twin of the `replace`-chain column form — BpeSpec
    * pins their agreement). */
  private[ext] def mergeOnce(syms: Array[String],
      p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += p._1 + p._2; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-side BPE encode of one word (test/inspection twin of
    * [[bpeSymbols]]). */
  private[ext] def bpeEncodeWord(word: String,
      merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString).toArray)(mergeOnce).toSeq

  /** BPE-encode a text column under a trained merge list — array of
    * BPE symbols, whole document, NO UDFs and no per-word lambdas: the
    * token stream is joined with a `|` boundary marker (never inside a
    * symbol — tokens are [a-z0-9] runs), spaced into characters, and
    * the merge chain applied as NESTED LITERAL `replace` CALLS. Each
    * merge (a, b) rewrites " a b " → " ab "; `replace` scans leftmost
    * and resumes after each replacement, which is exactly BPE's greedy
    * leftmost-first merge order, and the space guards keep matches on
    * symbol boundaries. The whole chain is one codegen'd string
    * expression per row — nMerges fused `StringReplace`s, no shuffle,
    * no interpreted higher-order lambda on the hot path — and replays
    * verbatim in any engine with `replace` (the oracle does). */
  def bpeSymbols(c: Column, merges: Seq[(String, String)]): Column = {
    val spaced = concat(lit(" "),
      regexp_replace(array_join(tokens(c), "|"), "(.)", "$1 "))
    val enc = merges.foldLeft(spaced) { case (s, (a, b)) =>
      org.apache.spark.sql.functions.replace(
        s, lit(s" $a $b "), lit(s" ${a + b} "))
    }
    filter(split(trim(enc), " "), t => t =!= "|" && length(t) > 0)
  }

  /** BPE token count under a trained merge list (the real-tokenizer
    * upgrade of [[tokenCountBpe]]'s regex proxy). */
  def bpeTokenCount(c: Column, merges: Seq[(String, String)]): Column =
    size(bpeSymbols(c, merges)).cast("long")

  /** HTML boilerplate strip — the extraction step that turns crawled
    * pages into training text (the trafilatura/jusText niche, reduced
    * to its deterministic core): drop `<script>`/`<style>` blocks with
    * their CONTENT (code is not prose), then comments, then all
    * remaining tags; decode the six ubiquitous entities (`&amp;` LAST,
    * so `&amp;lt;` decodes to the literal `&lt;` and not twice to `<`);
    * collapse whitespace. A codegen'd regexp/replace chain — one
    * narrow per-row expression, no UDF, no shuffle — and every pattern
    * is RE2-safe (no backrefs/lookarounds), so an external engine
    * replays it verbatim (the q132 oracle does). */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, ch)) =>
        org.apache.spark.sql.functions.replace(acc, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Fixed-size token windows with stride — context-window chunking,
    * the step between curation and tokenization that turns variable-
    * length documents into model-sized training examples ([[Sampling
    * .packSequences]] packs WHOLE docs into bins; this SPLITS long
    * docs, with `window - stride` tokens of overlap carrying context
    * across the cut). Chunk starts are 0, stride, 2·stride, … while
    * start < n_tokens (the final chunk may be short; a doc with no
    * tokens yields no chunks). Emits (id, chunk_id, chunk_text,
    * n_tokens). Narrow per-row explode — rows out ≈ rows in ×
    * n/stride, zero shuffles, and the generated `sequence` is bounded
    * by the doc's own token count (no corpus-sized arrays). */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0, s"stride must be positive, got $stride")
    docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__t"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("__pos", "__start")))
      .select(col(idCol), col("__pos").cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("__t"), col("__start") + 1, lit(window)))
          .as("chunk_text"),
        size(slice(col("__t"), col("__start") + 1, lit(window)))
          .cast("long").as("n_tokens"))
  }

  /** BM25 ranked retrieval: score every document against a bag of
    * query terms (Robertson-Spärck Jones; the keyword-search half of a
    * hybrid retrieval stack, next to the ANN family in
    * [[graft.ext.Similarity]]) and keep the global top-k.
    *
    * Shape — NO inverted index materialization and NO explode: the
    * query is a handful of LITERAL terms, so per-doc term frequencies
    * are narrow per-row columns (`size(filter(tokens, = term))`), the
    * corpus statistics (N, Σdl, per-term df) are ONE single-row
    * aggregate broadcast back, and the top-k is orderBy+limit —
    * TakeOrderedAndProject, a per-partition heap + driver merge of k
    * rows, never a global sort. One pass over the corpus total.
    *
    * `logIdf = true` (default) is textbook BM25,
    * idf = ln(1 + (N − df + ½)/(df + ½)). `logIdf = false` drops the
    * ln and scores with its argument — same per-term monotonicity in
    * df, and `ln` never crosses engines bit-exactly (the repo-wide
    * rule; q117's weights are integer for the same reason), so the
    * cross-engine contract (q131) gates the log-free form while real
    * use keeps the default. All remaining arithmetic is IEEE
    * mult/div/add over a FIXED left-associated expression tree, which
    * any engine replays bit-identically. */
  def bm25Rank(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      logIdf: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank requires at least one query term")
    require(topK > 0, s"topK must be positive, got $topK")
    val terms = queryTerms.distinct
    val tk = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__dl", size(col("__t")).cast("long"))
    // per-term tf via the native counting expression — the HOF form
    // size(filter(t, x => x = term)) allocates a filtered array and
    // runs an interpreted closure per element per term
    val withTf = terms.zipWithIndex.foldLeft(tk) { case (acc, (t, i)) =>
      acc.withColumn(s"__tf$i",
        graft.functions.GraftFunctions.countEqual(col("__t"), lit(t))
          .cast("long"))
    }.drop("__t")
    val dfAggs = sum(col("__dl")).as("__S") +: terms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = withTf.agg(count(lit(1)).as("__N"), dfAggs: _*)
    val joined = withTf.crossJoin(broadcast(stats))
    val n = col("__N").cast("double")
    val avgdl = col("__S").cast("double") / n
    val dl = col("__dl").cast("double")
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val dfc = col(s"__df$i").cast("double")
      val idfArg = (n - dfc + lit(0.5)) / (dfc + lit(0.5))
      val idf = if (logIdf) log(lit(1.0) + idfArg) else idfArg
      idf * (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / avgdl))
    }
    joined.select(col(idCol), contribs.reduceLeft(_ + _).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** IMPACT-ORDERED inverted index — the retrieval-serving artifact
    * [[bm25Rank]] implies but never materializes: one row per term
    * with its document frequency, total term frequency, and the top
    * `topPostings` highest-tf postings as a canonical
    * `"doc:tf,doc:tf,…"` string (tf DESC, doc ASC — the impact-sorted
    * index prefix WAND-style engines serve from: high-impact postings
    * first, the tail never shipped). The posting cap is the bounded
    * [[graft.functions.TopKByScore]] heap riding the term aggregate —
    * per-term state is O(topPostings) however hot the term, so a
    * stopword with a billion postings costs the same heap as a rare
    * term; df/total_tf stay exact over ALL postings. One tokenize
    * pass, one (term, doc) aggregate, one term aggregate. */
  def impactIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topPostings: Int = 8): org.apache.spark.sql.DataFrame = {
    require(topPostings > 0, s"topPostings must be positive, got $topPostings")
    val tf = docs
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("__doc"))
      .agg(count(lit(1)).as("__tf"))
    // the heap orders by (score DESC, id ASC); tf as the score gives
    // exactly the impact order, doc id breaking ties deterministically
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("__tf")).as("total_tf"),
        graft.functions.TopKByScore.topK(
          col("__tf").cast("double"), col("__doc").cast("long"),
          topPostings).as("__top"))
      .select(col("term"), col("df"), col("total_tf"),
        array_join(transform(col("__top"), e =>
          concat(e.getField("id").cast("string"), lit(":"),
            e.getField("score").cast("long").cast("string"))), ",")
          .as("postings"))
  }

  // ------------------------------------------------- C4 line-level clean
  // Raffel et al. 2020 §2.2 ("C4"): line-level rules (keep only lines
  // ending in a terminal punctuation mark with enough words) plus
  // document-level drops (pages mentioning "lorem ipsum" or containing
  // a curly brace, pages left with too few sentences). The line pass
  // complements the Gopher DOC-level rules (gopherQuality): Gopher
  // drops whole documents, C4 repairs them line by line first.

  /** Kept lines of a document under the C4 line rules: a line survives
    * iff it ends in terminal punctuation (`.` `!` `?` or a closing
    * quote) AND has at least `minWords` words. Higher-order `filter`
    * over the split — a narrow per-row pass, NO shuffle; the lambda is
    * interpreted rather than codegen'd, the price of keeping line
    * ORDER without an explode + re-aggregate exchange (the right trade
    * for a per-line predicate this cheap). */
  def c4KeptLines(text: Column, minWords: Int = 5): Column =
    filter(split(text, "\n"), l =>
      l.rlike("[.!?\"]$") &&
        regexp_count(lower(l), lit("[a-z0-9]+")) >= minWords)

  /** C4 cleaning over a corpus: line-filter every document, then drop
    * documents that mention "lorem ipsum", contain `{` (code/template
    * debris), or retain fewer than `minLines` kept lines. Returns only
    * the SURVIVING docs as (id, clean_text, n_kept, n_dropped).
    * Narrow per-row work end to end — no exchange is introduced. */
  def c4Clean(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 5,
      minLines: Int = 3): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    docs
      .filter(!lower(t).contains("lorem ipsum") && !t.contains("{"))
      .select(col(idCol), c4KeptLines(t, minWords).as("__kept"),
        size(split(t, "\n")).cast("long").as("__total"))
      .filter(size(col("__kept")) >= minLines)
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__total") - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  // --------------------------------------------------- URL canonicalize
  /** Canonical form of a URL for URL-level dedup (every web-crawl
    * pipeline's cheapest dedup pass — two fetches of the same page
    * under cosmetically different URLs must collide BEFORE any text
    * fingerprinting). Rules, in order: lowercase (a documented
    * simplification — hosts are case-insensitive, paths usually are on
    * the crawls this targets), drop the fragment, drop tracking
    * parameters (utm_*, fbclid, gclid, mc_eid, ref), drop the scheme,
    * a leading `www.`, default ports (`:80`/`:443`), and any trailing
    * `?` or `/`. Every pattern is RE2-safe with NO capture-group
    * replacements (Spark says `$1`, DuckDB says `\1` — so the chain
    * avoids them entirely and replays verbatim in either engine).
    * Purely narrow, codegen'd. */
  def canonicalizeUrl(u: Column): Column = {
    val track = "(utm_[a-z0-9]+|fbclid|gclid|mc_eid|ref)"
    var c = lower(u)
    c = regexp_replace(c, "#.*$", "")               // fragment
    c = regexp_replace(c, s"$track=[^&#]*&", "")    // tracking pair + '&'
    c = regexp_replace(c, s"[?&]$track=[^&#]*$$", "") // trailing pair + sep
    c = regexp_replace(c, "^https?://", "")         // scheme
    c = regexp_replace(c, "^www\\.", "")            // www
    c = regexp_replace(c, ":(80|443)/", "/")        // default port, mid
    c = regexp_replace(c, ":(80|443)$", "")         // default port, end
    c = regexp_replace(c, "\\?$", "")               // bare '?'
    regexp_replace(c, "/+$", "")                    // trailing slashes
  }

  /** Mojibake-adjacent text cleanup (the ftfy-lite pass every crawl
    * pipeline runs before fingerprinting): smart quotes → ASCII
    * quotes, en/em dashes → '-', the ellipsis char → '...', NBSP →
    * space, zero-width characters and C0 control characters stripped,
    * runs of spaces/tabs collapsed, trimmed. Normalizing BEFORE dedup
    * matters: curly-quote and straight-quote copies of one paragraph
    * must collide. A fixed codegen'd replace/regexp chain (all
    * patterns RE2-safe, no capture-group replacements), purely
    * narrow. Complement of the deeper [[graft.functions.NfcNormalize]]
    * (canonical composition); this handles the NON-equivalent visual
    * substitutions NFC leaves alone. */
  def cleanText(c: Column): Column = {
    val direct = Seq(
      "“" -> "\"", "”" -> "\"",       // curly double quotes
      "‘" -> "'", "’" -> "'",         // curly single quotes
      "–" -> "-", "—" -> "-",         // en / em dash
      "…" -> "...",                        // ellipsis char
      " " -> " ")                          // NBSP
    val replaced = direct.foldLeft(c) { case (acc, (from, to)) =>
      org.apache.spark.sql.functions.replace(acc, lit(from), lit(to)) }
    val noZw = regexp_replace(replaced,
      "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    val noCtl = regexp_replace(noZw,
      "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]", "")
    trim(regexp_replace(noCtl, "[ \\t]+", " "))
  }

  /** Host part of a CANONICALIZED url ([[canonicalizeUrl]] output —
    * everything before the first `/`, `:`, `?` or `#`). Group-0
    * extract, portable to any RE2/Java engine. */
  def urlDomain(canonical: Column): Column =
    regexp_extract(canonical, "^[^/:?#]+", 0)

  // ------------------------------------------- character diversity (log-free)
  /** Per-document character diversity: the unbiased Gini–Simpson index
    * 1 − Σ cᵢ(cᵢ−1) / (n(n−1)) over character counts — a LOG-FREE
    * entropy proxy (monotone with Rényi-2 entropy) for spotting
    * repetition garbage (`aaaa…` → 0) and near-random noise (→ 1)
    * without the cross-engine `ln` hazard: integer count arithmetic
    * with ONE double division, so scores hash-match in any IEEE
    * engine. Docs with < 2 characters score 0.0 by convention.
    *
    * Shape: one char explode, two keyed hash aggregates ((id, ch) then
    * id — both map-side-combining on the SAME id-hash exchange), left
    * join back to the doc spine. Linear in corpus size; no windows. */
  def charDiversity(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val chars = docs.select(col(idCol),
        explode(split(col(textCol), "")).as("__ch"))
      .filter(length(col("__ch")) === 1)
    val agg = chars.groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c") * (col("__c") - 1L)).as("__s2"),
        sum(col("__c")).as("__n"),
        count(lit(1)).as("__k"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_chars_counted"),
        coalesce(col("__k"), lit(0L)).as("distinct_chars"),
        when(coalesce(col("__n"), lit(0L)) < 2, lit(0.0))
          .otherwise(lit(1.0) - col("__s2").cast("double") /
            (col("__n") * (col("__n") - 1L)).cast("double"))
          .as("char_diversity"))
  }

  // ----------------------------------------------------- DSIR importance
  // Xie et al. 2023 ("Data Selection for Language Models via Importance
  // Resampling"): score raw documents by the log-likelihood ratio of a
  // TARGET vs a RAW hashed bag-of-ngrams model, then keep the top of
  // the importance order. Features are [[hashedFeatureRows]]' hashed
  // word uni+bigrams; like the classifier (q113) and the bigram LM
  // (q117), weights are INTEGER milli-log-ratios so scoring stays
  // exact until one final division — `ln` lives only in training,
  // which produces model DATA (spec-covered, not oracle-gated).

  /** DSIR sufficient statistics: per hashed feature bucket, occurrence
    * counts in the target corpus vs the raw corpus — pure integers,
    * oracle-replayable. Returns a COMPLETE (bucket, target_cnt,
    * raw_cnt) table, absent buckets as zeros; at most `buckets` rows
    * whatever the corpus size (one hash aggregate per side). */
  def dsirFeatureCounts(target: org.apache.spark.sql.DataFrame,
      raw: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val spark = raw.sparkSession
    def side(df: org.apache.spark.sql.DataFrame, name: String) =
      hashedFeatureRows(df, idCol, textCol, buckets, seed)
        .groupBy(col("bucket")).agg(count(lit(1)).as(name))
    spark.range(buckets).select(col("id").as("bucket"))
      .join(broadcast(side(target, "target_cnt")), Seq("bucket"), "left")
      .join(broadcast(side(raw, "raw_cnt")), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("target_cnt"), lit(0L)).as("target_cnt"),
        coalesce(col("raw_cnt"), lit(0L)).as("raw_cnt"))
  }

  /** Train DSIR importance weights: weight(bucket) = round(1000 · (ln
    * P̂_target(bucket) − ln P̂_raw(bucket))) with add-one smoothing over
    * the hashed feature space. Model DATA (the `ln` stays out of the
    * cross-engine contract — q139 gates scoring under
    * [[dsirSyntheticWeights]] instead; this path is spec-covered).
    * `buckets` rows out; keep ≤ ~1e6 so the table broadcasts. */
  def trainDsirWeights(target: org.apache.spark.sql.DataFrame,
      raw: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val counts = dsirFeatureCounts(target, raw, idCol, textCol, buckets, seed)
    val tots = counts.agg(sum(col("target_cnt")).as("__T"),
      sum(col("raw_cnt")).as("__R"))
    counts.crossJoin(broadcast(tots)).select(col("bucket"),
      round(lit(1000.0) * (
        log((col("target_cnt") + 1L).cast("double") /
          (col("__T") + buckets).cast("double")) -
        log((col("raw_cnt") + 1L).cast("double") /
          (col("__R") + buckets).cast("double"))))
        .cast("long").as("weight"))
  }

  /** Deterministic md5-derived stand-in DSIR weight table (weight ∈
    * [−700, 700] milli-log-ratio) for the cross-engine scoring
    * contract — [[syntheticWeights]]' role, DSIR-shaped. */
  def dsirSyntheticWeights(spark: org.apache.spark.sql.SparkSession,
      buckets: Int, seed: Int = 17): org.apache.spark.sql.DataFrame =
    spark.range(buckets).select(col("id").as("bucket"),
      ((portableHash64(seed, col("id").cast("string")) % 1401L) - 700L)
        .as("weight"))

  /** Tokenizer fertility audit: per key (language/source), BPE tokens
    * per word and alphanumeric chars per BPE token under a fixed merge
    * list — the standard "is this tokenizer fair to this language"
    * diagnostic (high fertility = more tokens per word = more compute
    * per sentence). Words are the same `[a-z0-9]+` tokens BPE
    * encodes, so fertility is internally consistent. Integer sums,
    * two double divisions — exact cross-engine. Zero-word docs are
    * excluded (they have no fertility). One keyed hash aggregate over
    * narrow codegen'd per-row counts; no explode. */
  def bpeFertility(docs: org.apache.spark.sql.DataFrame, keyCol: String,
      textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    docs.select(col(keyCol),
        bpeTokenCount(col(textCol), merges).as("__bpe"),
        tokenCount(col(textCol)).as("__w"),
        length(regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""))
          .cast("long").as("__c"))
      .filter(col("__w") > 0)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__bpe")).as("n_bpe"),
        sum(col("__w")).as("n_words"), sum(col("__c")).as("n_chars"))
      .select(col(keyCol), col("n_docs"), col("n_bpe"), col("n_words"),
        (col("n_bpe").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe").cast("double"))
          .as("chars_per_token"))

  /** Per-document DSIR importance: Σ over feature OCCURRENCES of the
    * bucket's milli-log-ratio, ÷ 1000 — ≈ ln(P_target(doc)/P_raw(doc))
    * under the hashed models. Integer sum, ONE double division (exact
    * cross-engine). Every input doc gets a row (no-token docs score
    * 0.0). Shape: feature explode → broadcast join on the weight
    * table → one hash aggregate on the doc id → left join to the
    * spine. Resample downstream by ranking on the score (e.g.
    * [[Sampling.selectByTokenBudget]] with unit cost = exact top-N). */
  def dsirScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, weights: org.apache.spark.sql.DataFrame,
      buckets: Int, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    val agg = hashedFeatureRows(docs, idCol, textCol, buckets, seed)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("weight")).as("__sw"), count(lit(1)).as("__nf"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__sw").cast("double") / lit(1000.0), lit(0.0))
          .as("importance"),
        coalesce(col("__nf"), lit(0L)).as("n_features"))
  }

  /** Per-document KEYWORDS by integer TF-IDF: score = tf ·
    * bitlen(N div df) — the idf factor is the BIT LENGTH of the
    * integer document-frequency ratio (⌊log₂⌋+1), so the whole score
    * is integer arithmetic any engine replays exactly (a float
    * ln-idf would not hash-match). Terms in more than half the
    * corpus are dropped (df gate — their idf factor carries no
    * signal). Top-`k` per doc by (score DESC, term ASC) via a
    * per-doc window — document token lists are small by nature, so
    * the per-doc partition is bounded. Returns
    * (idCol, term, tf, score, rank). */
  def keywords(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val tf = toks.groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.select(col(idCol)).distinct().count()
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= nDocs / 2)
    val scored = tf.join(dfreq, Seq("__t"))
      .withColumn("score",
        col("tf") * length(bin(expr(s"${nDocs}L div __df"))))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("__t").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("__t").as("term"), col("tf"),
        col("score").cast("long").as("score"), col("rank").cast("long").as("rank"))
  }

  /** Next-word SUGGESTION table over raw corpus bigrams: for each
    * word seen ≥ `minCount` times as a context, the most frequent
    * successor (ties break to the lexicographically first) — the
    * first-order autocomplete / language-model argmax, computed as
    * one `min(struct(-cnt, next))` aggregate per word (map-side
    * combine, no window over the vocabulary). Returns
    * (word, next_word, cnt). */
  def nextWordTable(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val pairs = tok
      .select(col(idCol), col("__tok"),
        lead(col("__tok"), 1).over(w).as("__nxt"))
      .filter(col("__nxt").isNotNull)
      .groupBy(col("__tok"), col("__nxt")).agg(count(lit(1)).as("__c"))
    pairs
      .groupBy(col("__tok").as("word"))
      .agg(min(struct((-col("__c")).as("n"), col("__nxt").as("w"))).as("__best"))
      .select(col("word"), col("__best.w").as("next_word"),
        (-col("__best.n")).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` word list — the tokenizer-coverage audit (a doc
    * whose words mostly miss the vocabulary will fragment into
    * garbage subwords at training time; run before committing a vocab
    * size). Deterministic vocabulary: count DESC, word ASC, so the
    * cut is engine-replayable. The vocab (≤ vocabSize rows) comes
    * from a TakeOrdered over the word counts and BROADCASTS to the
    * token stream — the corpus never shuffles on the word twice.
    * Token-less docs produce no row (no tokens, no rate). Returns
    * (idCol, n_tokens, n_oov, oov_ppm — floor ppm). */
  def oovRate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val vocab = toks.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t")).limit(vocabSize)
      .select(col("__t"), lit(1L).as("__in"))
    toks.join(broadcast(vocab), Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000L) div n_tokens"))
  }
  /** ZIPF rank–frequency profile of the corpus unigram distribution —
    * the release audit that catches boilerplate floods and template
    * corpora (a healthy natural-language corpus follows freq(r) ≈
    * freq(1)/r, Zipf 1949; duplicated boilerplate shows as a flat
    * head, OCR noise as a heavy tail). For the top `topR` tokens by
    * frequency (ties broken by token, deterministically) reports
    * `zipf_ppm` = floor(10⁶ · cnt(r)·r / cnt(1)) — Zipf predicts
    * ≈ 10⁶ at every rank, so the deviation IS the signal. The product
    * rides DECIMAL(38,0) (cnt·r·10⁶ passes int64 at ~10¹²-token
    * corpora); one exact floor division per row.
    *
    * Scale shape: one token explode + hash aggregate (vocab-sized),
    * a TakeOrdered top-R (bounded, never a global sort materialized),
    * then rank/head-share arithmetic on the ≤topR-row result. */
  def zipfProfile(df: DataFrame, textCol: String, topR: Int): DataFrame = {
    require(topR >= 1, s"topR must be >= 1, got $topR")
    val Dec = "decimal(38,0)"
    val counts = df.select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("__tok")).limit(topR)
    // ≤ topR rows from here on: the single-partition windows are
    // bounded — and cnt(1) comes from a full-frame window max, NOT a
    // `top.agg(max)` re-aggregate, which would replay the corpus-sized
    // explode+count+TakeOrdered pipeline a second time
    val w = Window.orderBy(col("cnt").desc, col("__tok"))
    val wAll = Window.partitionBy()
    top.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__c1", max(col("cnt")).over(wAll))
      .select(col("rank"), col("__tok").as("token"), col("cnt"),
        PortableDiv.nonNeg(
          col("cnt").cast(Dec) * col("rank") * lit(1000000L),
          col("__c1").cast(Dec)).as("zipf_ppm"))
  }

  /** VOCABULARY COVERAGE estimate — Good–Turing missing mass and
    * Chao1 richness from the frequency-of-frequencies profile (Good
    * 1953; Chao 1984): "how much of the language have we actually
    * collected, and how big is the vocabulary we haven't seen?" — the
    * release audit that says whether another crawl epoch is worth it
    * (the quantitative companion to [[zipfProfile]]'s shape check and
    * q193's growth curve):
    *   - `missing_mass_ppm` = floor(10⁶·n₁/N) — the Good–Turing
    *     probability the NEXT token is unseen (n₁ = singleton types);
    *   - `chao1` = V + floor(n₁²/(2·n₂)) — the Chao1 lower bound on
    *     total vocabulary (NULL when no doubletons: the estimator is
    *     undefined and the corpus is far from coverage anyway).
    * All integer arithmetic ([[PortableDiv.nonNeg]]), DECIMAL(38,0)
    * for n₁² — exact and oracle-replayable at any corpus size.
    * Returns ONE row: (n_tokens, vocab, n_singletons, n_doubletons,
    * missing_mass_ppm, chao1).
    *
    * Scale shape: token explode → vocab-sized count aggregate →
    * frequency-of-frequency aggregate (≤ distinct-count rows) → one
    * reduction row. No window, no join. */
  def vocabCoverage(df: DataFrame, textCol: String): DataFrame = {
    val Dec = "decimal(38,0)"
    val counts = df.select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__f"))
    val fof = counts.groupBy(col("__f")).agg(count(lit(1)).as("__nf"))
    fof.agg(
        sum(col("__f").cast(Dec) * col("__nf")).cast(Dec).as("__N"),
        sum(col("__nf")).as("vocab"),
        sum(when(col("__f") === 1L, col("__nf")).otherwise(0L)).as("n_singletons"),
        sum(when(col("__f") === 2L, col("__nf")).otherwise(0L)).as("n_doubletons"))
      .select(
        col("__N").cast("long").as("n_tokens"),
        col("vocab"), col("n_singletons"), col("n_doubletons"),
        PortableDiv.nonNeg(col("n_singletons").cast(Dec) * lit(1000000L),
          col("__N")).as("missing_mass_ppm"),
        when(col("n_doubletons") > 0L,
          col("vocab") + PortableDiv.nonNeg(
            col("n_singletons").cast(Dec) * col("n_singletons"),
            lit(2L).cast(Dec) * col("n_doubletons")))
          .otherwise(lit(null).cast("long")).as("chao1"))
  }

  /** CO-OCCURRENCE LIFT mining — the top document-level token pairs
    * with their exact association lift: lift = P(a,b)/(P(a)·P(b)) =
    * c_ab·D/(c_a·c_b), reported floor ppm (10⁶ = independent; the
    * PMI ranking without the log — PMI = ln lift is monotone in it,
    * and ln never needs cross-engine replay). The collocation /
    * boilerplate-phrase audit: which tokens travel together far more
    * than chance?
    *
    * The df-gate comes FIRST (the df-cap rule): tokens outside
    * [minDf, maxDfPpm·D] never reach the pair stage — stopwords
    * would otherwise dominate both pair volume and the output. Per
    * document, surviving DISTINCT tokens order lexicographically and
    * only the first maxPerDoc enter the pair join (deterministic
    * cap, C(maxPerDoc, 2) bounds per-doc pair work at any document
    * length; the cap is part of the contract and the oracle replays
    * it). Pairs below minPair support drop; the top-k by (support
    * desc, pair asc) is a bounded TakeOrdered, never a global sort.
    * Returns (token_a, token_b, n_pair, df_a, df_b, lift_ppm).
    *
    * Scale shape: one token explode + (doc, token) distinct and one
    * vocab-sized df aggregate; the pair stage is a doc-keyed
    * self-join over ≤maxPerDoc rows per doc (equi-join on the doc
    * id, the a.tok < b.tok theta as a post-join filter); the final
    * lift arithmetic runs on the ≤topK result. */
  def cooccurLift(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDf: Long, maxDfPpm: Long, maxPerDoc: Int,
      minPair: Long, topK: Int): org.apache.spark.sql.DataFrame = {
    require(maxPerDoc >= 2, s"maxPerDoc must be >= 2, got $maxPerDoc")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val Dec = "decimal(38,0)"
    val docTok = df.select(col(idCol).as("__doc"),
      explode(array_distinct(tokens(col(textCol)))).as("__tok"))
    val dCount = df.agg(count(lit(1)).cast(Dec).as("__d"))
    val dfT = docTok.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val kept = dfT.crossJoin(broadcast(dCount))
      .filter(col("__df") >= minDf &&
        col("__df").cast(Dec) * lit(1000000L) <= lit(maxDfPpm) * col("__d"))
    val dt = docTok.join(kept, Seq("__tok"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__doc")).orderBy(col("__tok"))))
      .filter(col("__rn") <= maxPerDoc)
      .select(col("__doc"), col("__tok"), col("__df"), col("__d"))
    val pairs = dt.as("a").join(dt.as("b"),
        col("a.__doc") === col("b.__doc") &&
          col("a.__tok") < col("b.__tok"))
      .groupBy(col("a.__tok").as("token_a"), col("b.__tok").as("token_b"))
      .agg(count(lit(1)).as("n_pair"),
        min(col("a.__df")).as("df_a"), min(col("b.__df")).as("df_b"),
        min(col("a.__d")).cast(Dec).as("__d"))
      .filter(col("n_pair") >= minPair)
    pairs.orderBy(col("n_pair").desc, col("token_a"), col("token_b"))
      .limit(topK)
      .select(col("token_a"), col("token_b"), col("n_pair"),
        col("df_a"), col("df_b"),
        PortableDiv.nonNeg(
          col("n_pair").cast(Dec) * col("__d") * lit(1000000L),
          col("df_a").cast(Dec) * col("df_b")).as("lift_ppm"))
  }

  /** WEAK-SUPERVISION label vote — the majority-vote baseline of the
    * data-programming line (Ratner et al. 2017): combine noisy
    * binary labeling functions, given as columns voting 1 (flag) /
    * 0 (clear) / NULL (abstain), into one per-row label. Ties and
    * all-abstain rows read NULL (downstream decides — don't invent
    * a label the evidence doesn't carry); `vote_conf_ppm` =
    * ⌊10⁶·max(pos, neg)/(pos+neg)⌋ (vote counts ≪ 2⁵³, the double
    * floor-divide is exact). Adds (n_pos_votes, n_neg_votes,
    * vote_label, vote_conf_ppm).
    *
    * Scale shape: pure per-row projection — whole-stage codegen, no
    * shuffle, no state; LF columns are the caller's expressions and
    * stay inside the same stage. */
  def labelVote(df: org.apache.spark.sql.DataFrame,
      lfCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(lfCols.nonEmpty, "labelVote needs at least one labeling function")
    val pos = lfCols.map(c =>
      when(col(c) === 1, 1L).otherwise(0L)).reduce(_ + _)
    val neg = lfCols.map(c =>
      when(col(c) === 0, 1L).otherwise(0L)).reduce(_ + _)
    df.withColumn("n_pos_votes", pos)
      .withColumn("n_neg_votes", neg)
      .withColumn("vote_label",
        when(col("n_pos_votes") > col("n_neg_votes"), 1L)
          .when(col("n_neg_votes") > col("n_pos_votes"), 0L)
          .otherwise(lit(null).cast("long")))
      .withColumn("vote_conf_ppm",
        when(col("n_pos_votes") + col("n_neg_votes") > 0L,
          floor(greatest(col("n_pos_votes"), col("n_neg_votes"))
            .cast("double") * lit(1000000.0) /
            (col("n_pos_votes") + col("n_neg_votes")).cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")))
  }
}
