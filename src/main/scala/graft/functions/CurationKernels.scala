package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The word lists of [[TextSignals]]: the stopwords of the quality
  * score, the Gopher required words, and the function words of each
  * language of the language ID. A word is a token, `[a-z0-9]+`, as the
  * composed forms' boundary-guarded patterns match it. */
final case class TextSignalsConsts(stopwords: Seq[String], requiredWords: Seq[String],
    langs: Seq[(String, Seq[String])]) {
  (stopwords +: requiredWords +: langs.map(_._2)).foreach { ws =>
    require(ws.nonEmpty && ws.forall(_.matches("[a-z0-9]+")),
      s"TextSignals word lists must be non-empty lists of [a-z0-9]+ tokens, got $ws")
  }
  require(langs.map(_._1).distinct.size == langs.size, s"duplicate language codes in $langs")

  /** Word → the count lists it is in (0: the stopwords, 1 + j: the
    * j-th language of `langOrder`) and the distinct required word it
    * is (−1 when none). */
  @transient private lazy val words: java.util.HashMap[UTF8String, (Array[Int], Int)] = {
    val req = requiredWords.distinct
    val lists = (stopwords +: langOrder.map(langs.toMap)).map(_.toSet)
    val m = new java.util.HashMap[UTF8String, (Array[Int], Int)]()
    (lists.flatten ++ req).distinct.foreach { w =>
      m.put(UTF8String.fromString(w), (lists.indices.filter(lists(_)(w)).toArray, req.indexOf(w)))
    }
    m
  }
  /** Each required-word entry's distinct index: a repeated entry counts twice. */
  @transient private lazy val requiredAt: Array[Int] = {
    val req = requiredWords.distinct
    requiredWords.map(req.indexOf(_)).toArray
  }
  @transient private lazy val maxWordBytes: Int = (stopwords ++ requiredWords ++ langs.flatMap(_._2)).map(_.length).max
  /** Language codes in Spark's string order, which breaks score ties. */
  @transient private lazy val langOrder: Seq[String] =
    langs.map(_._1).sortWith((a, b) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0)
  @transient private lazy val langCodes: Array[UTF8String] = langOrder.map(UTF8String.fromString).toArray

  /** One document's signals, `text` non-null and `lower` Spark's
    * `lower(text)`: see [[TextSignals]]. Both strings are read as
    * UTF-8 bytes, which gives the composed forms' values for valid
    * UTF-8 (every string Spark builds from a JVM string). */
  def signals(text: UTF8String, lower: UTF8String): InternalRow = {
    if (text == null) return TextSignals.nullTextRow

    // the raw text: punctuation, '#', ellipses, lines and bullets
    val tb = text.getBaseObject
    val to = text.getBaseOffset
    val tn = text.numBytes
    def at(i: Int): Int = Platform.getByte(tb, to + i) & 0xff
    def ellipsisBefore(e: Int): Boolean = e >= 3 && {
      val (a, b, c) = (at(e - 3), at(e - 2), at(e - 1))
      (a == '.' && b == '.' && c == '.') || (a == 0xe2 && b == 0x80 && c == 0xa6)
    }
    var punct, symbols, newlines, bullets, ellipsisLines, dotRun = 0
    // a line starts at 0 and after \n, \r, U+0085, U+2028, U+2029, as
    // Java's (?m)^ reads it; the ratios' line count is the \n count + 1
    var lineStart = true
    var i = 0
    while (i < tn) {
      val b = at(i)
      if (b == '.') dotRun += 1
      else { symbols += dotRun / 3; dotRun = 0 }
      var w = 1
      var terminator = false
      if (b < 0x80) b match {
        case '.' | ',' | '!' | '?' | ';' | ':' => punct += 1
        case '#' => symbols += 1
        case '-' | '*' => if (lineStart) bullets += 1
        case '\n' => newlines += 1; terminator = true
        case '\r' => terminator = true
        case _ =>
      } else if (b == 0xe2 && i + 2 < tn && at(i + 1) == 0x80) {
        at(i + 2) match {
          case 0xa6 => symbols += 1; w = 3 // …
          case 0xa2 => if (lineStart) bullets += 1; w = 3 // •
          case 0xa8 | 0xa9 => terminator = true; w = 3 // U+2028, U+2029
          case _ =>
        }
      } else if (b == 0xc2 && i + 1 < tn && at(i + 1) == 0x85) { terminator = true; w = 2 }
      // (?m)(\.\.\.|…)$: an ellipsis right before a line terminator
      if (terminator && ellipsisBefore(i)) ellipsisLines += 1
      lineStart = terminator
      i += w
    }
    symbols += dotRun / 3
    if (ellipsisBefore(tn)) ellipsisLines += 1

    // the lowered text: tokens are its maximal [a-z0-9]+ runs
    val lb = lower.getBaseObject
    val lo = lower.getBaseOffset
    val ln = lower.numBytes
    val counts = new Array[Int](1 + langCodes.length)
    val seen = new Array[Boolean](requiredAt.length) // by distinct index
    var tokens, alnum, alphaTokens = 0
    i = 0
    while (i < ln) {
      val start = i
      var alpha = false
      var b = Platform.getByte(lb, lo + i)
      while (i < ln && ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9'))) {
        alpha |= b >= 'a'
        i += 1
        if (i < ln) b = Platform.getByte(lb, lo + i)
      }
      if (i > start) {
        tokens += 1
        alnum += i - start
        if (alpha) alphaTokens += 1
        if (i - start <= maxWordBytes) {
          val hit = words.get(UTF8String.fromAddress(lb, lo + start, i - start))
          if (hit != null) {
            hit._1.foreach(l => counts(l) += 1)
            if (hit._2 >= 0) seen(hit._2) = true
          }
        }
      } else i += 1
    }

    val n = tokens.toDouble
    def perToken(c: Int): Double = if (tokens == 0) 0.0 else c.toDouble / n
    val mwl = perToken(alnum)
    val swr = perToken(symbols)
    val blr = bullets.toDouble / (newlines + 1).toDouble
    val elr = ellipsisLines.toDouble / (newlines + 1).toDouble
    val awr = perToken(alphaTokens)
    var rwh = 0L
    requiredAt.foreach(r => if (seen(r)) rwh += 1)
    val pass = tokens >= 50 && tokens <= 100000 && mwl >= 3.0 && mwl <= 10.0 &&
      swr <= 0.1 && blr <= 0.9 && elr <= 0.3 && awr >= 0.8 && rwh >= 2
    val gopher = InternalRow(tokens.toLong, mwl, swr, blr, elr, awr, rwh, if (pass) 1L else 0L)

    val len = text.numChars()
    val punctRatio = if (len == 0) 0.0 else punct.toLong.toDouble / len.toDouble
    val quality = TextSignals.quality(TextSignals.least(len.toDouble / 500.0, 1.0),
      TextSignals.least(perToken(counts(0)) * 4.0, 1.0), TextSignals.least(punctRatio * 2.0, 1.0))

    // argmax of (ratio, code): scores ascend, ties go to the later code
    var best = -1
    var bestScore = 0.0
    var j = 0
    while (j < langCodes.length) {
      val s = perToken(counts(1 + j))
      if (best < 0 || s >= bestScore) { best = j; bestScore = s }
      j += 1
    }
    val lang = if (best >= 0 && bestScore > 0) langCodes(best) else TextSignals.Und

    InternalRow(TextSignals.normalize(lower), gopher, quality, lang)
  }
}

/** Every per-document text signal of the curation pipeline in one pass:
  * `struct<norm: string, gopher: struct<…>, quality: double, lang:
  * string>`, each field equal to the composed Spark-function form it
  * replaces:
  *
  *  - `norm`: `regexp_replace(lower(trim(text)), "\\s+", " ")` — Spark's
  *    `trim` strips only ' ', and `\s` is Java's six-character class.
  *  - `gopher`: the MassiveText rule metrics and their pass flag (see
  *    `TextOps.gopherQuality`), counted as the composed regexes count:
  *    a line starts after `\n`, `\r`, U+0085, U+2028 or U+2029 (Java's
  *    `(?m)^`) while the line count is the `\n` count + 1, and an
  *    ellipsis line is any line end — a terminator or the end of the
  *    text — right after "..." or "…", however long the dot run.
  *  - `quality`: the length / stopword / punctuation score, its length
  *    in code points and its arithmetic in the composed order.
  *  - `lang`: the language of highest function-word ratio, "und" when
  *    none scores above 0.
  *
  * Token-level counts read `lower`, which is passed as a child — Spark's
  * own `lower(text)`, so case mapping is whatever Spark's is; counts
  * over the raw text read `text`. A null text gives what the composed
  * forms give: `least` skips nulls, so the quality is 0.75; the
  * required-word hits and the pass flag are 0; the language is "und";
  * every other field is null.
  *
  * The four columns of a curation projection each read one field of
  * the same expression; subexpression elimination evaluates it once per
  * row. */
case class TextSignals(text: Expression, lower: Expression, consts: TextSignalsConsts)
    extends ConstKernel {
  override def children: Seq[Expression] = Seq(text, lower)
  override def dataType: DataType = TextSignals.resultType(text.nullable)
  override def prettyName: String = "graft_text_signals"
  override protected def method: String = "signals"
  override protected def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override protected def call(args: Seq[Any]): Any =
    consts.signals(args(0).asInstanceOf[UTF8String], args(1).asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TextSignals =
    copy(text = c(0), lower = c(1))
}

object TextSignals {
  private def gopherType(nullable: Boolean): StructType = StructType(
    Seq("word_count" -> LongType, "mean_word_len" -> DoubleType, "symbol_ratio" -> DoubleType,
      "bullet_ratio" -> DoubleType, "ellipsis_ratio" -> DoubleType, "alpha_ratio" -> DoubleType)
      .map { case (n, t) => StructField(n, t, nullable) } ++
      Seq(StructField("required_hits", LongType, nullable = false),
        StructField("pass", LongType, nullable = false)))

  def resultType(textNullable: Boolean): StructType = StructType(Seq(
    StructField("norm", StringType, textNullable),
    StructField("gopher", gopherType(textNullable), nullable = false),
    StructField("quality", DoubleType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  def column(text: Column, consts: TextSignalsConsts): Column =
    Bridge.column(TextSignals(Bridge.expression(text), Bridge.expression(lower(text)), consts))

  private[functions] val Und = UTF8String.fromString("und")

  private[functions] val nullTextRow: InternalRow = InternalRow(null,
    InternalRow(null, null, null, null, null, null, 0L, 0L), quality(1.0, 1.0, 1.0), Und)

  /** Spark's `least(a, b)` of two non-null, non-NaN doubles. */
  private[functions] def least(a: Double, b: Double): Double = if (a > b) b else a

  /** `greatest(0, least(1, len·0.5 + stop·0.5 − punct·0.25))`. */
  private[functions] def quality(lenScore: Double, stopScore: Double, punctPenalty: Double): Double = {
    val raw = lenScore * 0.5 + stopScore * 0.5 - punctPenalty * 0.25
    val capped = least(1.0, raw)
    if (capped > 0.0) capped else 0.0
  }

  /** `regexp_replace(trim(s), "\\s+", " ")` on valid UTF-8: trim ' ',
    * then each run of ' ', \t, \n, \u000B, \f, \r becomes one ' '. The
    * input itself comes back when nothing changes. */
  private[functions] def normalize(s: UTF8String): UTF8String = {
    def ws(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
    val bytes = s.getBytes
    var from = 0
    var until = bytes.length
    while (from < until && bytes(from) == ' ') from += 1
    while (until > from && bytes(until - 1) == ' ') until -= 1
    val out = new Array[Byte](until - from)
    var n = 0
    var changed = from > 0 || until < bytes.length
    var i = from
    while (i < until) {
      if (ws(bytes(i))) {
        val start = i
        while (i < until && ws(bytes(i))) i += 1
        changed |= i - start > 1 || bytes(start) != ' '
        out(n) = ' '
        n += 1
      } else { out(n) = bytes(i); n += 1; i += 1 }
    }
    if (changed) UTF8String.fromBytes(out, 0, n) else s
  }
}

/** The k-function MinHash family of [[MinHashSketch]]: function i is
  * `xxhash64(i, shingle)` (Spark's seed 42), over word n-grams of
  * `n` tokens. */
final case class MinHashConsts(k: Int, n: Int) {
  require(k >= 0, s"MinHashSketch needs k >= 0, got $k")
  require(n >= 1, s"MinHashSketch needs n >= 1, got $n")

  /** `xxhash64(i, s)` hashes s with seed `hashInt(i, 42)`. */
  @transient private lazy val seeds: Array[Long] = Array.tabulate(k)(XXH64.hashInt(_, 42L))

  /** `(sig, shingles)` of one lowered text, null with fewer than n
    * tokens. A token is a maximal `[a-z0-9]+` run, a shingle n
    * consecutive tokens joined by ' '. */
  def sketch(lower: UTF8String): InternalRow = {
    if (lower == null) return null
    val base = lower.getBaseObject
    val off = lower.getBaseOffset
    val len = lower.numBytes
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var t = 0
    var i = 0
    while (i < len) {
      val start = i
      var b = Platform.getByte(base, off + i)
      while (i < len && ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9'))) {
        i += 1
        if (i < len) b = Platform.getByte(base, off + i)
      }
      if (i > start) {
        if (t == starts.length) {
          starts = java.util.Arrays.copyOf(starts, 2 * t)
          ends = java.util.Arrays.copyOf(ends, 2 * t)
        }
        starts(t) = start
        ends(t) = i
        t += 1
      } else i += 1
    }
    if (t < n) return null

    val shingles = Array.tabulate(t - n + 1) { s =>
      val bytes = new Array[Byte](ends(s + n - 1) - starts(s))
      var p = 0
      var j = s
      while (j < s + n) {
        if (j > s) { bytes(p) = ' '; p += 1 }
        val w = ends(j) - starts(j)
        Platform.copyMemory(base, off + starts(j), bytes, Platform.BYTE_ARRAY_OFFSET + p, w)
        p += w
        j += 1
      }
      UTF8String.fromBytes(bytes, 0, p)
    }
    java.util.Arrays.sort(shingles, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    var d = 0
    shingles.indices.foreach { s =>
      if (d == 0 || shingles(s).binaryCompare(shingles(d - 1)) != 0) { shingles(d) = shingles(s); d += 1 }
    }
    val sig = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < d) {
      val sh = shingles(s)
      var h = 0
      while (h < k) {
        val v = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, seeds(h))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      s += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(sig),
      new GenericArrayData(shingles.take(d).asInstanceOf[Array[Any]]))
  }
}

/** One document's MinHash sketch from its lowered text, `struct<sig:
  * array<bigint>, shingles: array<string>>`, null for a doc with fewer
  * than n tokens: `sig(i)` is `min(xxhash64(i, shingle))` over the
  * doc's word n-grams, `shingles` their sorted distinct set — what a
  * near-duplicate search bands and then verifies. It replaces a
  * posexplode of the tokens, a window `lead` per n-gram, a k-`min`
  * aggregate and a `collect_set` aggregate. */
case class MinHashSketch(child: Expression, consts: MinHashConsts) extends ConstKernel {
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = MinHashSketch.ResultType
  override def prettyName: String = "graft_minhash_sketch"
  override protected def method: String = "sketch"
  override protected def inputTypes: Seq[DataType] = Seq(StringType)
  override protected def call(args: Seq[Any]): Any = consts.sketch(args.head.asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashSketch =
    copy(child = c.head)
}

object MinHashSketch {
  val ResultType: StructType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("shingles", ArrayType(StringType, containsNull = false), nullable = false)))

  /** `lowered`: Spark's `lower(text)`. */
  def column(lowered: Column, k: Int, n: Int): Column =
    Bridge.column(MinHashSketch(Bridge.expression(lowered), MinHashConsts(k, n)))
}
