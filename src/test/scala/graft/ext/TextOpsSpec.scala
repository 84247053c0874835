package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("t")

  test("scrubPii masks emails, then urls, then bare IPs; counts don't double-count") {
    val t = "mail me at a.b+c@ex-1.co.uk or visit http://10.1.2.3/x?q=1 " +
      "backup 192.168.0.1 and user2@example.com done"
    val out = one(t).select(TextOps.scrubPii($"t")).as[String].first()
    assert(out == "mail me at <EMAIL> or visit <URL> backup <IP> and <EMAIL> done")
    val (ne, nu, ni) = TextOps.piiCounts($"t")
    val c = one(t).select(ne, nu, ni).as[(Long, Long, Long)].first()
    // the URL's embedded 10.1.2.3 must count as part of the URL, not an IP
    assert(c == ((2L, 1L, 1L)), s"got $c")
    // clean text untouched
    assert(one("no pii here 1.2 simple").select(TextOps.scrubPii($"t"))
      .as[String].first() == "no pii here 1.2 simple")
    // a URL ending a LINE must not swallow the next line into the
    // sentinel (the terminator class covers tab/newline/CR, not just
    // space)
    assert(one("see http://a.example\nSecond line stays")
      .select(TextOps.scrubPii($"t")).as[String].first() ==
      "see <URL>\nSecond line stays")
  }

  test("tokens: lowercase, non-alnum split, empties dropped") {
    val tk = one("Hello, World!  foo-bar").select(TextOps.tokens($"t"))
      .as[Seq[String]].first()
    assert(tk == Seq("hello", "world", "foo", "bar"))
  }

  test("token counts: whitespace and BPE-ish; empty-string edge") {
    val r = one("one two  three").select(
      TextOps.tokenCountWs($"t"), TextOps.tokenCountBpe($"t")).first()
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 3L)
    assert(one("").select(TextOps.tokenCountWs($"t")).first().getLong(0) == 0L)
    // "a1-b." -> [a][1][-][b][.] = 5 BPE-ish tokens
    assert(one("a1-b.").select(TextOps.tokenCountBpe($"t")).first().getLong(0) == 5L)
  }

  test("punct count/ratio") {
    val r = one("a, b. c!").select(
      TextOps.punctCount($"t"), TextOps.punctRatio($"t")).first()
    assert(r.getLong(0) == 3L)
    assert(math.abs(r.getDouble(1) - 3.0 / 8.0) < 1e-12)
  }

  test("stopword ratio counts occurrences, not distinct") {
    val tk = TextOps.tokens($"t")
    val r = one("the cat and the dog").select(
      TextOps.stopwordCount(tk), TextOps.stopwordRatio(tk)).first()
    assert(r.getLong(0) == 3L) // the, and, the
    assert(math.abs(r.getDouble(1) - 3.0 / 5.0) < 1e-12)
  }

  test("langId picks the language with highest function-word hit ratio") {
    assert(one("the cat is in the house and it is warm")
      .select(TextOps.langId($"t")).first().getString(0) == "en")
    assert(one("el perro y la casa de los vecinos en un pueblo")
      .select(TextOps.langId($"t")).first().getString(0) == "es")
    assert(one("zzz qqq xxx").select(TextOps.langId($"t")).first().getString(0) == "und")
  }

  test("shingles: n-grams over tokens; short docs yield empty") {
    val sh = one("a b c d").select(TextOps.shingles(TextOps.tokens($"t"), 3))
      .as[Seq[String]].first()
    assert(sh == Seq("a b c", "b c d"))
    assert(one("a b").select(TextOps.shingles(TextOps.tokens($"t"), 3))
      .as[Seq[String]].first().isEmpty)
  }

  test("fingerprints are whitespace/case-normalized") {
    val df = Seq(("  Hello   World ", 1), ("hello world", 2)).toDF("t", "i")
    val fps = df.select(TextOps.fingerprintMd5($"t")).as[String].collect().toSet
    assert(fps.size == 1)
    val fp64 = df.select(TextOps.fingerprint64($"t")).as[Long].collect().toSet
    assert(fp64.size == 1)
  }

  test("topTerms: hand-checked log-free tf-idf scores and per-doc ranking") {
    val docs = Seq(
      (1L, "apple apple banana common common"),
      (2L, "banana cherry common"),
      (3L, "common words only here")).toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 1, common 3, words/only/here 1
    // doc1: apple 2·(4/2)=4.0, common 2·(4/4)=2.0, banana 1·(4/3)≈1.333
    val out = TextOps.topTerms(docs, "doc_id", "text", topK = 3)
      .select($"doc_id", $"term", $"score")
      .as[(Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(out(1L).keySet == Set("apple", "common", "banana"))
    assert(out(1L)("apple") == 4.0)
    assert(out(1L)("common") == 2.0)
    assert(math.abs(out(1L)("banana") - 4.0 / 3.0) < 1e-15)
    assert(out(2L).keySet == Set("banana", "cherry", "common"))
    // cherry (rare, df=1) must outscore common (df=3): 2.0 vs 1.0
    assert(out(2L)("cherry") > out(2L)("common"))
  }

  test("repetitionStats: hand-checked word and bigram duplicate fractions") {
    val docs = Seq(
      (1L, "a a b"),      // words 3, distinct 2; bigrams "a a","a b" distinct
      (2L, "x"),          // single word: no bigrams → frac 0.0, not NaN
      (3L, "a a a a"),    // words 4/1 distinct; bigrams "a a"×3, 1 distinct
      (4L, "w x y z")     // all unique
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((3L, 1.0 - 2.0 / 3.0, 2L, 0.0)))
    assert(out(2L) == ((1L, 0.0, 0L, 0.0)))
    assert(out(3L) == ((4L, 0.75, 3L, 1.0 - 1.0 / 3.0)))
    assert(out(4L) == ((4L, 0.0, 3L, 0.0)))
    // the spillable countDistinct form is value-identical
    val spillable = TextOps.repetitionStats(docs, "doc_id", "text", boundedDocs = false)
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(spillable == out)
  }

  test("contaminatedDocs: flags exactly the docs sharing an n-gram with the benchmark") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench 5-gram
      (2L, "totally unrelated words in this document here"),
      (3L, "quick brown fox jumps over and keeps running"), // shares the 5-gram too
      (4L, "the quick brown fox naps")                      // only 4 shared tokens in a row
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox jumps over")).toDF("bid", "btext")
    val out = TextOps.contaminatedDocs(docs, "doc_id", "text", bench, "bid", "btext", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 3L -> 1L),
      s"docs 1 and 3 contain the benchmark 5-gram verbatim; got $out")
  }

  test("repetitionStats: NULL-text documents are excluded, not zeroed") {
    val docs = Seq((1L, Some("a b")), (2L, None)).toDF("doc_id", "text")
    val ids = TextOps.repetitionStats(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L), "NULL text has no defined repetition score")
  }

  // independent replay of the portable 60-bit hash in plain JVM code —
  // guards the classifier against a silent drift in the Column recipe
  private def h60(seed: Int, v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed|$v".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  test("linearModelScore: broadcast model join, every doc scored, exact hand-computed score") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "alpha alpha"))
      .toDF("doc_id", "text")
    val w = TextOps.syntheticWeights(spark, 64)
    val scored = TextOps.linearModelScore(docs, "doc_id", "text", w, 64)
    val m = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.keySet == Set(1L, 2L, 3L), "every input doc gets a score row")
    assert(m(2L) == 0.0, "a doc with no features scores 0.0")
    // doc 1 features: alpha, beta, gamma, "alpha beta", "beta gamma"
    val feats = Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
    def weight(b: Long): Long = h60(11, b.toString) % 2001 - 1000
    val expected = feats.map(f => weight(h60(7, f) % 64)).sum.toDouble /
      (1000.0 * feats.size)
    assert(m(1L) == expected, s"got ${m(1L)}, expected $expected")
    // repeats count with multiplicity: alpha ×2 + "alpha alpha"
    val e3 = (2 * weight(h60(7, "alpha") % 64) +
      weight(h60(7, "alpha alpha") % 64)).toDouble / 3000.0
    assert(m(3L) == e3)
    // the model join must be broadcast (model-as-data at scale)
    assert(scored.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "weight table should broadcast-join")
  }

  test("bigramRows/bigramLmCounts: pair counts, short docs yield no rows") {
    // "a b c" → (a,b),(b,c); "a b a b" → (a,b)×2,(b,a); "x" → none
    val docs = Seq((1L, "a b c"), (2L, "a b a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val c = TextOps.bigramLmCounts(docs, "doc_id", "text", buckets = 4096)
    assert(c.agg(sum("cnt")).head().getLong(0) == 5)
    // with 4096 buckets these tiny tokens don't collide: (a,b) has cnt 3
    assert(c.agg(max("cnt")).head().getLong(0) == 3,
      "(a,b) appears 3 times across the corpus")
    assert(TextOps.bigramRows(docs.filter(col("doc_id") === 3),
      "doc_id", "text", 4096).count() == 0)
  }

  test("trainBigramLm + lmScore: in-distribution text outscores shuffled garbage") {
    val corpus = Seq.tabulate(20)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog every day"))
      .toDF("doc_id", "text")
    val lm = TextOps.trainBigramLm(corpus, "doc_id", "text", buckets = 256)
    assert(lm.count() == 256L * 256L, "LM table must be complete")
    val test = Seq(
      (1L, "the quick brown fox jumps"),   // seen bigrams
      (2L, "dog fox the over quick"),      // same vocab, unseen order
      (3L, "z")).toDF("doc_id", "text")    // < 2 tokens
    val s = TextOps.lmScore(test, "doc_id", "text", lm, 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L),
      s"in-distribution ${s(1L)} should outscore shuffled ${s(2L)}")
    assert(s(3L) == 0.0, "short docs score 0.0 and keep their row")
  }

  test("trainFeatureCounts: complete bucket table, class totals = feature occurrences") {
    // "a b c" → 3 unigrams + 2 bigrams = 5 features; "d e" → 2 + 1 = 3
    val labeled = Seq((1L, "a b c", true), (2L, "d e", false))
      .toDF("doc_id", "text", "label")
    val c = TextOps.trainFeatureCounts(labeled, "doc_id", "text", "label",
      buckets = 64)
    assert(c.count() == 64, "every bucket must have a row")
    val t = c.agg(sum("pos"), sum("neg")).head()
    assert(t.getLong(0) == 5, s"pos features: expected 5, got ${t.getLong(0)}")
    assert(t.getLong(1) == 3, s"neg features: expected 3, got ${t.getLong(1)}")
  }

  test("trainLogOddsWeights: trained model separates the classes it was trained on") {
    val good = Seq("insightful analysis of the experiment results",
      "careful measurement and thorough discussion",
      "the detailed study reports clear findings")
    val bad = Seq("click here buy now free offer",
      "win free money click this offer now",
      "buy cheap offer win big prizes now")
    val labeled = (good.map((_, true)) ++ bad.map((_, false))).zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("doc_id", "text", "label")
    val w = TextOps.trainLogOddsWeights(labeled, "doc_id", "text", "label",
      buckets = 256)
    assert(w.count() == 256, "weight table must cover every bucket")
    // held-out docs drawn from each vocabulary score on opposite sides
    val test = Seq((100L, "thorough analysis with clear results"),
      (200L, "free money buy now click here")).toDF("doc_id", "text")
    val s = TextOps.linearModelScore(test, "doc_id", "text", w, 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(100L) > 0, s"good-vocab doc should score positive, got ${s(100L)}")
    assert(s(200L) < 0, s"spam-vocab doc should score negative, got ${s(200L)}")
    assert(s(100L) > s(200L))
  }

  test("gopher metrics: bullets, ellipses, symbols, alpha words, required words") {
    val t = "- one two...\n* three# 42\ntail…"
    def metrics(g: org.apache.spark.sql.Column) = one(t).select(
      g.getField("word_count"), g.getField("mean_word_len"), g.getField("symbol_ratio"),
      g.getField("bullet_ratio"), g.getField("ellipsis_ratio"), g.getField("alpha_ratio"),
      g.getField("required_hits"))
      .as[(Long, Double, Double, Double, Double, Double, Long)].first()
    val row = metrics(TextOps.gopherQuality($"t"))
    assert(row == metrics(TextOpsSpec.gopherQuality($"t")))
    // tokens: one, two, three, 42, tail → 5; alnum chars 17
    assert(row._1 == 5L)
    assert(row._2 == 17.0 / 5.0)
    // symbols: '...' + '#' + '…' = 3 over 5 tokens
    assert(row._3 == 3.0 / 5.0)
    // lines: 3; bullets on lines 1-2; ellipsis endings on lines 1 and 3
    assert(row._4 == 2.0 / 3.0)
    assert(row._5 == 2.0 / 3.0)
    // '42' has no letter → 4/5
    assert(row._6 == 4.0 / 5.0)
    assert(row._7 == 0L)
  }

  test("TextSignals == the composed forms on the regex traps, codegen and interpreted") {
    val texts = Seq[String](null, "", " ", "  \t a \u000B b \f\r\n c  ", "ab....\n", "....",
      "x...\r\ny…", "…\u2029…\u2028...\u0085..", "a\r\n- b\r* c\u0085• d\u2028-e\u2029*f",
      "-\n\n*\r\n•", "#...#……....", "a,b.c!d?e;f:g", "\u212A \u0130stanbul K\u0130 ki",
      "😀 emoji 𝔘 text", "THE And OF the the", "el la de que y en un", "der die und das ist",
      "le la et les des", "Der, Die! und? das: the; of", "1a 2 3b c4 55 x9y",
      Iterator.continually("the study of that careful result has appeared with detail")
        .take(12).mkString(" "))
    // not a local relation: the optimizer would evaluate the projection itself
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t").repartition(2)
    def cols(sig: Boolean) = {
      val t = $"t"
      if (sig) Seq(TextOps.normalize(t), TextOps.gopherQuality(t), TextOps.qualityScore(t),
        TextOps.langId(t), TextOps.langId(t, Map("en" -> Seq("the"), "xx" -> Seq("of", "the"))))
      else Seq(TextOpsSpec.normalize(t), TextOpsSpec.gopherQuality(t), TextOpsSpec.qualityScore(t),
        TextOpsSpec.langId(t), TextOpsSpec.langId(t, Map("en" -> Seq("the"), "xx" -> Seq("of", "the"))))
    }
    def rows(sig: Boolean) = df.select($"id" +: cols(sig): _*).collect().map(_.toString).sorted.toSeq
    val expected = rows(sig = false)
    assert(expected.exists(_.contains(",1]")), "some doc must pass the Gopher gate")
    for (codegen <- Seq(true, false))
      TextOpsSpec.withCodegen(spark, codegen)(assert(rows(sig = true) == expected, s"codegen=$codegen"))
    // one kernel call serves every signal column of a projection: one
    // per word-list set
    val q = df.select(cols(sig = true): _*)
    q.collect()
    val code = org.apache.spark.sql.execution.debug.codegenString(q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
    assert("\\.signals\\(".r.findAllIn(code).size == 2, code)
  }

  test("MinHashSketch == shingleRows + min(xxhash64) + collect_set; short and empty docs are absent") {
    val texts = Seq[String](null, "", "a b", "A b C", "a  b\tc\nd", "x y x y x y",
      "K\u212A k İi 1 2 3", "one, two; three... four — five", "😀 a 😀 b 😀 c")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t").repartition(2)
    for (n <- Seq(1, 3); k <- Seq(1, 5)) {
      val expected = TextOpsSpec.minhashSketch(df, "id", "t", k, n)
        .collect().map(_.toString).sorted.toSeq
      for (codegen <- Seq(true, false)) TextOpsSpec.withCodegen(spark, codegen) {
        val got = df.select($"id", graft.functions.MinHashSketch.column(lower($"t"), k, n).as("s"))
          .filter($"s".isNotNull).select($"id", $"s.sig", $"s.shingles")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"n=$n k=$k codegen=$codegen")
      }
    }
  }

  test("gopherQuality pass flag: long prose passes, a bullet list and an empty doc fail") {
    val prose = Iterator.continually(Seq("the", "results", "of", "that",
      "careful", "study", "have", "appeared", "with", "detailed",
      "analysis", "and", "discussion")).flatten.take(80).mkString(" ")
    val bullets = (1 to 60).map(i => s"- item $i").mkString("\n")
    val rows = Seq((1L, prose), (2L, bullets), (3L, ""))
      .toDF("doc_id", "t")
      .select($"doc_id", TextOps.gopherQuality($"t").getField("pass").as("pass"))
      .as[(Long, Long)].collect().toMap
    assert(rows == Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
  }

  test("stripHtml: blocks with content, tags, comments, entities, whitespace") {
    val page = "<html><head><style>p{x}</style><script>if (1 < 2) alert('&amp;');" +
      "</script></head><body><h1>Title</h1><p>Hello <b>world</b></p>" +
      "<!-- hidden --><div>A &amp;&nbsp;B &lt;kept&gt; &quot;q&quot; &#39;s&#39;</div></body>"
    val out = one(page).select(TextOps.stripHtml($"t")).as[String].first()
    // script CONTENT (including its entity and quotes) is gone, tag
    // text survives, entities decode ONCE, whitespace collapses
    assert(out == "Title Hello world A & B <kept> \"q\" 's'", s"got [$out]")
    // &amp;lt; decodes to the literal "&lt;", never twice to "<"
    assert(one("x &amp;lt; y").select(TextOps.stripHtml($"t"))
      .as[String].first() == "x &lt; y")
    // plain prose is untouched (beyond whitespace normalization)
    assert(one("no markup  here").select(TextOps.stripHtml($"t"))
      .as[String].first() == "no markup here")
  }

  test("chunkTokens: stride windows cover every token; tail short; empty doc drops") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "solo"),                                    // 1 token, 1 chunk
      (3L, "!!!")                                      // 0 tokens, 0 chunks
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "doc_id", "text", window = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    val d1 = out.filter(_._1 == 1L)
    // starts 0,3,6,9 → windows of 4,4,4,1
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(d1.head._3 == "w1 w2 w3 w4")
    assert(d1.last._3 == "w10")
    // overlap: chunk k starts at token 3k+1, so token 4 appears twice
    assert(d1(1)._3 == "w4 w5 w6 w7")
    // every token is covered at least once
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
    assert(out.count(_._1 == 2L) == 1 && out.forall(_._1 != 3L))
  }

  test("bm25Rank matches a driver-side reference and respects topK ties") {
    val docs = Seq(
      (1L, "data data model over data"),
      (2L, "model model model"),
      (3L, "nothing relevant here at all with many words"),
      (4L, "data model"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = TextOps.bm25Rank(docs, "doc_id", "text",
      Seq("data", "model"), topK = 3).as[(Long, Double)].collect().toSeq
    // driver-side textbook BM25 (log idf), same tokenizer
    val toks = Map(1L -> Seq("data","data","model","over","data"),
      2L -> Seq("model","model","model"),
      3L -> Seq("nothing","relevant","here","at","all","with","many","words"),
      4L -> Seq("data","model"), 5L -> Seq.empty[String])
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    def score(id: Long): Double = Seq("data", "model").map { t =>
      val tf = toks(id).count(_ == t).toDouble
      val df = toks.values.count(_.contains(t)).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * toks(id).size / avgdl))
    }.sum
    val want = toks.keys.toSeq.map(id => (id, score(id)))
      .sortBy { case (id, s) => (-s, id) }.take(3)
    assert(got.map(_._1) == want.map(_._1), s"got $got want $want")
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-12, s"score $g vs $w") }
  }

  test("c4Clean: line rules + document kills (Raffel et al. 2020)") {
    import spark.implicits._
    val docs = Seq(
      // 3 good lines + 2 bad (short header, no terminal punct) -> kept
      (1L, "Head\nThis first sentence has five words.\nAnother proper sentence sits right here.\nclick here for more stuff\nA third good sentence ends properly."),
      // only 2 good lines -> dropped by the min-kept-lines rule
      (2L, "One good sentence lives right here.\nA second good sentence follows it.\nshort one."),
      // lorem ipsum anywhere kills the whole doc
      (3L, "This fine sentence would have survived easily.\nAnother fine sentence would survive too.\nA third one rounds out the set.\nBut lorem ipsum appears."),
      // a curly brace kills the whole doc
      (4L, "This fine sentence would have survived easily.\nAnother fine sentence would survive too.\nA third one rounds out the set.\nif (x) { return; }")
    ).toDF("doc_id", "text")
    val out = TextOps.c4Clean(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val r = out.head
    assert(r.getString(1) ==
      "This first sentence has five words.\nAnother proper sentence sits right here.\nA third good sentence ends properly.")
    assert(r.getLong(2) == 3 && r.getLong(3) == 2)
  }

  test("canonicalizeUrl: scheme/www/port/tracking/fragment/slash rules") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://WWW.Example.COM:443/Path/" -> "example.com/path",
      "http://example.com:80/a?utm_source=x&page=2" -> "example.com/a?page=2",
      "http://example.com/a?page=2&utm_campaign=y" -> "example.com/a?page=2",
      "http://example.com/a?utm_medium=z" -> "example.com/a",
      "http://example.com/a?utm_a=1&utm_b=2" -> "example.com/a",
      "https://example.com/a#frag" -> "example.com/a",
      "example.com:8080/a" -> "example.com:8080/a", // non-default port kept
      "https://www.example.com" -> "example.com")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalizeUrl(col("u"))).as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want") }
  }

  test("charDiversity: unbiased Gini-Simpson on known strings") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, "aaab"), (4L, ""), (5L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.charDiversity(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // aaaa: s2=4*3=12, n(n-1)=12 -> 0.0; ab: 1.0; aaab: 1-6/12=0.5
    assert(got(0) == ((1L, 4L, 1L, 0.0)))
    assert(got(1) == ((2L, 2L, 2L, 1.0)))
    assert(got(2) == ((3L, 4L, 2L, 0.5)))
    assert(got(3) == ((4L, 0L, 0L, 0.0))) // empty doc: zero row survives
    assert(got(4) == ((5L, 1L, 1L, 0.0))) // n < 2 convention
  }

  test("cleanText: quotes/dashes/ellipsis/NBSP/zero-width/control/space rules") {
    import spark.implicits._
    val messy = "a \u201Cb\u201D \u2018c\u2019 \u2013 d\u2014e\u2026 " +
      "f\u00A0g h\u200Bi\u0007j\tk  l"
    val got = Seq(messy).toDF("t")
      .select(TextOps.cleanText(col("t"))).as[String].head()
    assert(got == "a \"b\" 'c' - d-e... f g hij k l", s"got <$got>")
    // idempotent: cleaning clean text is a no-op
    val again = Seq(got).toDF("t")
      .select(TextOps.cleanText(col("t"))).as[String].head()
    assert(again == got)
  }

  test("urlDomain: host of a canonicalized url") {
    import spark.implicits._
    val cases = Seq(
      "example.com/a/b" -> "example.com",
      "example.com:8080/a" -> "example.com",
      "example.com?x=1" -> "example.com",
      "example.com" -> "example.com")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.urlDomain(col("u"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("bpeFertility: hand-computed tokens-per-word and chars-per-token") {
    import spark.implicits._
    val merges = Seq(("t", "h"), ("th", "e"))
    val docs = Seq(
      (1L, "en", "the theme"),  // the->1 sym; theme -> the,m,e = 3 syms
      (2L, "en", "me"),         // m,e = 2 syms
      (3L, "de", ""),           // zero words: excluded
      // the,th,e = 3 syms: the first " th e "->" the " replacement
      // CONSUMES the boundary space, so the non-overlapping scan can't
      // merge the second th+e (the replace-chain semantics the q122
      // oracle replays verbatim — a real BPE would emit the,the)
      (4L, "de", "thethe")
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.bpeFertility(docs, "lang", "text", merges)
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    // de: 1 doc, words=1, chars=6, bpe=3 -> fertility 3.0, cpt 2.0
    assert(out(0) == (("de", 1L, 3L, 1L, 3.0, 2.0)), s"got ${out(0)}")
    // en: 2 docs, words=3, chars=10, bpe=1+3+2=6 -> fertility 2.0,
    // chars_per_token 10/6
    assert(out(1)._1 == "en" && out(1)._2 == 2L && out(1)._3 == 6L &&
      out(1)._4 == 3L && out(1)._5 == 2.0 &&
      math.abs(out(1)._6 - 10.0 / 6.0) < 1e-15, s"got ${out(1)}")
  }

  test("DSIR: trained log-ratio weights favor target-distribution docs") {
    import spark.implicits._
    // target corpus speaks only of alpha/beta; raw mixes in gamma/delta
    val target = (1L to 20L).map(i => (i, "alpha beta alpha beta alpha"))
      .toDF("doc_id", "text")
    val raw = ((1L to 10L).map(i => (i, "alpha beta alpha beta alpha")) ++
      (11L to 20L).map(i => (i, "gamma delta gamma delta gamma")))
      .toDF("doc_id", "text")
    val w = TextOps.trainDsirWeights(target, raw, "doc_id", "text", buckets = 64)
    // sanity vs a driver-side replay of the same arithmetic
    val counts = TextOps.dsirFeatureCounts(target, raw, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val tTot = counts.map(_._2).sum; val rTot = counts.map(_._3).sum
    val want = counts.map { case (b, t, r) =>
      b -> math.round(1000.0 * (math.log((t + 1.0) / (tTot + 64.0)) -
        math.log((r + 1.0) / (rTot + 64.0))))
    }.toMap
    w.collect().foreach { r =>
      assert(r.getLong(1) == want(r.getLong(0)),
        s"bucket ${r.getLong(0)}: ${r.getLong(1)} vs ${want(r.getLong(0))}") }
    // scoring under the trained table separates in-target from off-target
    val scored = TextOps.dsirScore(raw, "doc_id", "text", w, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val inT = (1L to 10L).map(scored).sum / 10
    val offT = (11L to 20L).map(scored).sum / 10
    assert(inT > offT, s"in-target mean $inT must beat off-target $offT")
  }

  test("oovRate: rare words read OOV under a small vocab; common-word docs read zero") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),        // all words common (repeated below)
      (2L, "the cat sat on the mat again"),
      (3L, "xylophone quixotic zephyr"),     // all words unique -> all OOV at k=6
      (4L, "")                               // token-less: no output row
    ).toDF("doc_id", "text")
    val out = TextOps.oovRate(docs, "doc_id", "text", vocabSize = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // vocab = top 6 by (count desc, word asc): the(4), cat/mat/on/sat(2),
    // then the count-1 tie resolves alphabetically to "again"
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L)._2 == 0L && out(1L)._3 == 0L, s"doc1 ${out(1L)}")
    assert(out(2L) == ((7L, 0L, 0L)), s"doc2 ${out(2L)}")
    assert(out(3L) == ((3L, 3L, 1000000L)), s"doc3 ${out(3L)}")
  }

  test("readabilityStats: hand-computed FK milli-grade; empty text reads zero words and NULL grade") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "")
    ).toDF("doc_id", "text")
    val out = docs.select((col("doc_id") +: TextOps.readabilityStats(col("text"))): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    // 6 words, 2 sentence runs, 6 vowel groups:
    // 390*6 div 2 = 1170; 11800*6 div 6 = 11800; -15590 -> -2620
    assert(out(1L) == ((6L, 2L, 6L, Some(-2620L))), s"doc1 ${out(1L)}")
    assert(out(2L)._1 == 0L && out(2L)._4.isEmpty, s"empty ${out(2L)}")
  }

  test("impactIndex: exact df/total_tf, impact-ordered capped postings") {
    val docs = Seq(
      (1L, "spark spark spark duck"),
      (2L, "spark duck duck"),
      (3L, "spark goose")
    ).toDF("doc_id", "text")
    val out = TextOps.impactIndex(docs, "doc_id", "text", topPostings = 2)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("df"), r.getAs[Long]("total_tf"), r.getString(3))))
      .toMap
    // spark: df 3, tf 3+1+1; cap 2 keeps the two highest-tf postings
    assert(out("spark") == ((3L, 5L, "1:3,2:1")))
    // duck: doc2 tf 2 outranks doc1 tf 1
    assert(out("duck") == ((2L, 3L, "2:2,1:1")))
    assert(out("goose") == ((1L, 1L, "3:1")))
  }

  test("impactIndex: tf ties order by doc id ascending") {
    val docs = Seq((9L, "a b"), (4L, "a"), (7L, "a")).toDF("doc_id", "text")
    val out = TextOps.impactIndex(docs, "doc_id", "text", topPostings = 2)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out("a") == "4:1,7:1") // three tf-1 postings, lowest ids kept
    assert(out("b") == "9:1")
  }

  test("zipfProfile: exact ppm per rank, ties broken by token, topR bounds") {
    import spark.implicits._
    // counts: a=8, b=4, c=2, d=2 → ranks a,b,c,d
    val docs = Seq(
      ("a a a a a a a a"), ("b b b b"), ("c c"), ("d d")
    ).toDF("text")
    val out = TextOps.zipfProfile(docs, "text", topR = 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"),
        r.getAs[Long]("cnt"), r.getAs[Long]("zipf_ppm")))
    assert(out.toSeq == Seq(
      (1L, "a", 8L, 1000000L),   // 8·1/8
      (2L, "b", 4L, 1000000L),   // 4·2/8
      (3L, "c", 2L, 750000L),    // 2·3/8
      (4L, "d", 2L, 1000000L)))  // 2·4/8
    assert(TextOps.zipfProfile(docs, "text", topR = 2).count() == 2L)
  }

  test("vocabCoverage: hand-counted freq-of-freq profile") {
    import spark.implicits._
    // tokens: a x4, b x2, c x2, d, e, f  -> N=11, V=6, n1=3, n2=2
    val docs = Seq("a a a a b b", "c c d e f").toDF("text")
    val out = TextOps.vocabCoverage(docs, "text").collect().head
    assert(out.getAs[Long]("n_tokens") == 11L)
    assert(out.getAs[Long]("vocab") == 6L)
    assert(out.getAs[Long]("n_singletons") == 3L)
    assert(out.getAs[Long]("n_doubletons") == 2L)
    assert(out.getAs[Long]("missing_mass_ppm") == 3000000L / 11L) // floor(3/11 ppm)
    assert(out.getAs[Long]("chao1") == 6L + 9L / 4L)       // V + floor(9/4)
    // no doubletons -> Chao1 undefined
    val nodbl = TextOps.vocabCoverage(Seq("x y z").toDF("text"), "text")
      .collect().head
    assert(nodbl.isNullAt(nodbl.fieldIndex("chao1")))
    assert(nodbl.getAs[Long]("missing_mass_ppm") == 1000000L)
  }


  test("cooccurLift: counts pair support and exact lift; df gate holds") {
    import spark.implicits._
    // 10 docs: "alpha beta" in 6, "alpha" alone in 2, "gamma delta"
    // in 2. minDf 2, maxDfPpm 900000 (gate nothing by ceiling).
    val docs = (1 to 6).map(i => (i.toLong, "alpha beta")) ++
      Seq((7L, "alpha"), (8L, "alpha"), (9L, "gamma delta"), (10L, "gamma delta"))
    val out = TextOps.cooccurLift(docs.toDF("id", "text"), "id", "text",
      minDf = 2L, maxDfPpm = 900000L, maxPerDoc = 24, minPair = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // (alpha, beta): support 6, df_a 8, df_b 6 -> lift = 6*10/(8*6)
    val ab = out(("alpha", "beta"))
    assert(ab.getAs[Long]("n_pair") == 6L)
    assert(ab.getAs[Long]("df_a") == 8L && ab.getAs[Long]("df_b") == 6L)
    assert(ab.getAs[Long]("lift_ppm") == 6L * 10L * 1000000L / (8L * 6L))
    // (gamma, delta): support 2, lift = 2*10/(2*2) = 5x
    assert(out(("delta", "gamma")).getAs[Long]("lift_ppm") == 5000000L)
  }

  test("cooccurLift: the maxPerDoc cap keeps the lexicographic prefix") {
    import spark.implicits._
    // one doc with 4 kept tokens, cap 2 -> only (a1, a2) survives
    val docs = Seq((1L, "a1 a2 z8 z9"), (2L, "a1 a2 z8 z9"))
    val out = TextOps.cooccurLift(docs.toDF("id", "text"), "id", "text",
      minDf = 1L, maxDfPpm = 1000000L, maxPerDoc = 2, minPair = 1L, topK = 10)
      .collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a1", "a2")))
  }

  test("labelVote: majority wins, ties and all-abstain read NULL") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(1L), Some(1L), Some(0L)),   // 2 pos 1 neg -> 1, conf 666666
      (2L, Some(0L), Some(0L), None),       // 0 pos 2 neg -> 0, conf 1e6
      (3L, Some(1L), Some(0L), None),       // tie -> NULL, conf 500000
      (4L, None, None, None))               // all abstain -> NULL conf NULL
    val out = TextOps.labelVote(
      rows.toDF("id", "f1", "f2", "f3"), Seq("f1", "f2", "f3"))
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("vote_label") == 1L)
    assert(out(1L).getAs[Long]("vote_conf_ppm") == 666666L)
    assert(out(2L).getAs[Long]("vote_label") == 0L)
    assert(out(2L).getAs[Long]("vote_conf_ppm") == 1000000L)
    assert(out(3L).isNullAt(out(3L).fieldIndex("vote_label")))
    assert(out(3L).getAs[Long]("vote_conf_ppm") == 500000L)
    assert(out(4L).isNullAt(out(4L).fieldIndex("vote_label")))
    assert(out(4L).isNullAt(out(4L).fieldIndex("vote_conf_ppm")))
  }
}

/** The composed Spark-function forms that [[graft.functions.TextSignals]]
  * and [[graft.functions.MinHashSketch]] replaced: the references the
  * kernels must equal bit for bit. */
object TextOpsSpec {
  def normalize(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(TextOps.stopwordRatioText(text) * lit(4.0), lit(1.0))
    val punctPenalty = least(TextOps.punctRatio(text) * lit(2.0), lit(1.0))
    greatest(lit(0.0), least(lit(1.0),
      lenScore * lit(0.5) + stopScore * lit(0.5) - punctPenalty * lit(0.25)))
  }

  def langId(text: Column, lists: Map[String, Seq[String]] = TextOps.LangStopwords): Column = {
    val scored = lists.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(TextOps.stopwordRatioText(text, stops).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  def meanWordLength(c: Column): Column = {
    val n = TextOps.tokenCount(c)
    when(n === 0, lit(0.0)).otherwise(
      length(regexp_replace(lower(c), "[^a-z0-9]", "")).cast("double") / n.cast("double"))
  }

  def symbolToWordRatio(c: Column): Column = {
    val n = TextOps.tokenCount(c)
    when(n === 0, lit(0.0)).otherwise(
      (regexp_count(c, lit("#")) + regexp_count(c, lit("\\.\\.\\.|…")))
        .cast("double") / n.cast("double"))
  }

  def bulletLineRatio(c: Column): Column =
    regexp_count(c, lit("(?m)^[-*•]")).cast("double") /
      (regexp_count(c, lit("\n")) + 1).cast("double")

  def ellipsisLineRatio(c: Column): Column =
    regexp_count(c, lit("(?m)(\\.\\.\\.|…)$")).cast("double") /
      (regexp_count(c, lit("\n")) + 1).cast("double")

  def alphaWordRatio(c: Column): Column = {
    val n = TextOps.tokenCount(c)
    when(n === 0, lit(0.0)).otherwise(
      regexp_count(lower(c), lit("(?<![a-z0-9])[0-9]*[a-z][a-z0-9]*"))
        .cast("double") / n.cast("double"))
  }

  def requiredWordHits(c: Column, words: Seq[String] = TextOps.GopherRequiredWords): Column =
    words.map(w => when(
        regexp_count(lower(c), lit(s"(?<![a-z0-9])$w(?![a-z0-9])")) > 0, 1L)
      .otherwise(0L)).reduce(_ + _)

  def gopherQuality(c: Column): Column = {
    val wc = TextOps.tokenCount(c)
    val mwl = meanWordLength(c)
    val swr = symbolToWordRatio(c)
    val blr = bulletLineRatio(c)
    val elr = ellipsisLineRatio(c)
    val awr = alphaWordRatio(c)
    val rwh = requiredWordHits(c)
    struct(wc.as("word_count"), mwl.as("mean_word_len"),
      swr.as("symbol_ratio"), blr.as("bullet_ratio"),
      elr.as("ellipsis_ratio"), awr.as("alpha_ratio"),
      rwh.as("required_hits"),
      (wc >= 50 && wc <= 100000 && mwl >= 3.0 && mwl <= 10.0 &&
        swr <= 0.1 && blr <= 0.9 && elr <= 0.3 && awr >= 0.8 && rwh >= 2)
        .cast("long").as("pass"))
  }

  /** (idCol, sig, shingles): k `min(xxhash64(i, shingle))` over the
    * window-stitched shingle rows and their sorted `collect_set`. */
  def minhashSketch(docs: DataFrame, idCol: String, textCol: String, k: Int,
      n: Int): DataFrame =
    TextOps.shingleRows(docs.repartition(col(idCol)), idCol, textCol, n)
      .groupBy(col(idCol)).agg(
        array((0 until k).map(i => min(xxhash64(lit(i), col("shingle")))): _*).as("sig"),
        array_sort(collect_set(col("shingle"))).as("shingles"))

  /** Runs `body` with whole-stage codegen and the codegen expression
    * factory on, or with both off (interpreted evaluation). */
  def withCodegen[T](spark: SparkSession, codegen: Boolean)(body: => T): T =
    if (codegen) body
    else {
      val kvs = Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
      finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
    }
}
