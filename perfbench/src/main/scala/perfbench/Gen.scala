package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator is a pure function of its
  * seed and parameters: the same seed yields the same inputs, so two
  * runs of a workload with one seed see byte-identical data. */
object Gen {
  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ------------------------------------------------------------ corpus

  final case class Doc(id: Long, text: String)

  /** A corpus plus its planted ground truth. `exactGroups` are an
    * original and its exact copies (equal after normalization);
    * `clusters` are near-duplicate families; `lowQuality` docs fail the
    * Gopher gate; `singletons` are the remaining good, unique docs. */
  final case class Corpus(docs: IndexedSeq[Doc], lowQuality: Set[Long],
      exactGroups: Seq[Seq[Long]], clusters: Seq[Seq[Long]],
      singletons: Set[Long]) {
    def plantedDuplicates: Int = (exactGroups ++ clusters).map(_.size - 1).sum
  }

  final case class CorpusParams(
      singletons: Int = 220,
      exactGroups: Int = 30,
      // near-duplicate chain lengths: a fixed long-tailed list, so every
      // seed plants the same cluster shapes
      chains: Seq[Int] = Seq(24, 16, 12, 10, 8, 8, 6, 6, 5, 5) ++ Seq.fill(4)(4) ++
        Seq.fill(6)(3) ++ Seq.fill(16)(2),
      skewedCluster: Int = 40,
      lowQuality: Int = 50,
      minWords: Int = 80,
      maxWords: Int = 140,
      editsPerStep: Int = 2,
      vocabulary: Int = 5000)

  private val Fillers = Array("the", "of", "and", "to", "with", "that", "have",
    "be", "in", "is", "for", "on", "as", "at")

  /** A document body: words plus where its sentences and lines end. */
  private final case class Body(words: Array[String], breaks: Array[Int])

  private def render(b: Body): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < b.words.length) {
      if (i > 0) sb.append(if (b.breaks(i - 1) == 2) "\n" else " ")
      sb.append(b.words(i))
      if (b.breaks(i) >= 1) sb.append('.')
      i += 1
    }
    sb.toString
  }

  /** An exact copy: case and whitespace differ, normalized text does not. */
  private def renderVariant(b: Body, r: SplittableRandom): String = {
    val sb = new StringBuilder("  ")
    var i = 0
    while (i < b.words.length) {
      if (i > 0) sb.append(if (b.breaks(i - 1) == 2) "\n" else if (r.nextInt(4) == 0) "   " else " ")
      val w = b.words(i)
      sb.append(if (r.nextInt(3) == 0) w.capitalize else w)
      if (b.breaks(i) >= 1) sb.append('.')
      i += 1
    }
    sb.append("  ").toString
  }

  def corpus(seed: Long, p: CorpusParams = CorpusParams()): Corpus = {
    val r = rng(seed, 1L)
    val vocab = vocabulary(r, p.vocabulary)
    def word(): String =
      if (r.nextInt(10) < 3) Fillers(r.nextInt(Fillers.length))
      else vocab(r.nextInt(vocab.length))
    def body(n: Int): Body = {
      val w = Array.fill(n)(word())
      w(0) = "the"; w(2) = "and" // at least two Gopher required words
      val br = Array.tabulate(n)(i =>
        if (i == n - 1) 0 else if (r.nextInt(40) == 0) 2 else if (r.nextInt(12) == 0) 1 else 0)
      Body(w, br)
    }
    // lengths step through the whole range, so every seed's corpus holds
    // the same number of words
    var lengthStep = 0
    def good(): Body = {
      lengthStep += 1
      body(p.minWords + lengthStep * 37 % (p.maxWords - p.minWords + 1))
    }
    def edit(b: Body): Body = {
      val w = b.words.clone()
      (0 until p.editsPerStep).foreach { _ => w(3 + r.nextInt(w.length - 3)) = vocab(r.nextInt(vocab.length)) }
      Body(w, b.breaks)
    }

    // (text, group tag) with tag: 0 singleton, 1 low quality,
    // 2+g exact group g, -(1+c) near-duplicate cluster c
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    (0 until p.singletons).foreach(_ => out += ((render(good()), 0)))
    (0 until p.lowQuality).foreach { i =>
      val t = if (i % 2 == 0) render(body(20 + i % 20)) // too short
      else { // symbol-heavy: '#' marks push the symbol ratio past 0.1
        val b = good()
        b.words.indices.filter(_ % 6 == 5).foreach(j => b.words(j) = "#" + b.words(j))
        render(b)
      }
      out += ((t, 1))
    }
    (0 until p.exactGroups).foreach { g =>
      val b = good()
      out += ((render(b), 2 + g))
      (0 to g % 3).foreach(_ => out += ((renderVariant(b, r), 2 + g)))
    }
    val sizes = p.chains :+ p.skewedCluster
    sizes.zipWithIndex.foreach { case (size, c) =>
      val skewed = c == sizes.length - 1
      // a chain (each member edits its predecessor) or, for the skewed
      // cluster, a star of edits around one hub
      val members = scala.collection.mutable.ArrayBuffer(good())
      while (members.size < size) members += edit(if (skewed) members(0) else members.last)
      members.foreach(b => out += ((render(b), -(1 + c))))
    }

    // seeded permutation of ids, so keepers (min id) are not positional
    val ids = (0 until out.size).map(_.toLong + 1000L).toArray
    var i = ids.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val docs = out.indices.map(k => Doc(ids(k), out(k)._1)).sortBy(_.id)
    def tagged(f: Int => Boolean) = out.indices.filter(k => f(out(k)._2)).map(ids(_))
    Corpus(docs,
      tagged(_ == 1).toSet,
      (0 until p.exactGroups).map(g => tagged(_ == 2 + g)),
      sizes.indices.map(c => tagged(_ == -(1 + c))),
      tagged(_ == 0).toSet)
  }

  private def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val stop = Fillers.toSet ++ graft.ext.TextOps.EnglishStopwords
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      val w = (0 until len).map(i => if (i % 2 == 0) cons(r.nextInt(cons.length)) else vows(r.nextInt(vows.length))).mkString
      if (!stop(w)) seen += w
    }
    seen.toArray
  }

  // -------------------------------------------------------------- crud

  final case class Acct(id: Long, grp: Int, name: Option[String],
      amount: Option[Double], qty: Long)

  /** An upsert row: a None column carries NULL (COALESCE keeps the old value). */
  final case class UpRow(id: Long, grp: Option[Int], name: Option[String],
      amount: Option[Double], qty: Option[Long])
  final case class Change(id: Long, amount: Option[Double], qty: Long)

  sealed trait Op { def isWrite: Boolean }
  final case class PointGet(id: Long) extends Op { def isWrite = false }
  final case class RangeGet(lo: Long, hi: Long, minAmount: Double, limit: Int, offset: Int) extends Op { def isWrite = false }
  final case class RawAgg(grp: Int) extends Op { def isWrite = false }
  final case class Upsert(rows: Seq[UpRow]) extends Op { def isWrite = true }
  final case class Update(changes: Seq[Change]) extends Op { def isWrite = true }
  final case class Delete(lo: Long, hi: Long, maxAmount: Double) extends Op { def isWrite = true }

  final case class CrudParams(
      rows: Int = 5000,
      groups: Int = 16,
      upsertBatch: Int = 40,
      updateBatch: Int = 20,
      deleteSpan: Int = 30,
      rangeSpan: Int = 400,
      recencySkew: Double = 4.0,
      // ops of each kind in one block, in the order point, range, raw,
      // upsert, update, delete; a block runs them in a seeded order
      mix: Seq[Int] = Seq(4, 4, 4, 2, 2, 2))

  private def amount(r: SplittableRandom): Double = r.nextInt(1000000) / 100.0

  def initialRows(seed: Long, p: CrudParams): IndexedSeq[Acct] = {
    val r = rng(seed, 2L)
    (1 to p.rows).map { i =>
      Acct(i.toLong, r.nextInt(p.groups), Some(f"n${r.nextInt(1 << 24)}%06x"),
        if (r.nextInt(20) == 0) None else Some(amount(r)), r.nextInt(1000).toLong)
    }
  }

  /** The operation stream. Op i depends only on the seed, i and the
    * table state the earlier ops left, so a seed fixes the sequence.
    * Every block of `mix.sum` ops holds exactly `mix` ops of each kind. */
  final class CrudOps(seed: Long, p: CrudParams) {
    private val r = rng(seed, 3L)
    private var block = List.empty[Int]
    def blockSize: Int = p.mix.sum

    /** A key skewed toward recent (high) ids: offsets from the top
      * follow u^skew, so most picks land near the newest rows. */
    private def recentKey(maxId: Long): Long =
      math.max(1L, maxId - (maxId * math.pow(r.nextDouble(), p.recencySkew)).toLong)

    def next(m: CrudModel): Op = {
      if (block.isEmpty) {
        val kinds = p.mix.zipWithIndex.flatMap { case (n, k) => Seq.fill(n)(k) }.toArray
        var i = kinds.length - 1
        while (i > 0) { val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t; i -= 1 }
        block = kinds.toList
      }
      val kind = block.head
      block = block.tail
      val maxId = m.maxId
      kind match {
        case 0 => PointGet(m.existingAtOrBelow(recentKey(maxId)))
        case 1 =>
          val lo = math.max(1L, recentKey(maxId) - p.rangeSpan / 2)
          RangeGet(lo, lo + p.rangeSpan, amount(r), 10 + r.nextInt(20), r.nextInt(5))
        case 2 => RawAgg(r.nextInt(p.groups))
        case 3 =>
          val fresh = (1 to p.upsertBatch / 2).map { i =>
            UpRow(maxId + i, Some(r.nextInt(p.groups)),
              if (r.nextInt(10) == 0) None else Some(f"n${r.nextInt(1 << 24)}%06x"),
              Some(amount(r)), Some(r.nextInt(1000).toLong))
          }
          val old = (1 to p.upsertBatch / 2).map(_ => m.existingAtOrBelow(recentKey(maxId)))
            .distinct.map { id =>
              UpRow(id,
                if (r.nextInt(2) == 0) None else Some(r.nextInt(p.groups)),
                if (r.nextInt(2) == 0) None else Some(f"u${r.nextInt(1 << 24)}%06x"),
                if (r.nextInt(10) < 3) None else Some(amount(r)),
                if (r.nextInt(4) == 0) None else Some(r.nextInt(1000).toLong))
            }
          Upsert(fresh ++ old)
        case 4 =>
          // a few keys past the top match nothing, as UPDATE allows
          val keys = (1 to p.updateBatch).map(i =>
            if (i % 10 == 0) maxId + 1000 + i else m.existingAtOrBelow(recentKey(maxId))).distinct
          Update(keys.map(id => Change(id, if (r.nextInt(10) == 0) None else Some(amount(r)), r.nextInt(1000).toLong)))
        case _ =>
          val lo = math.max(1L, recentKey(maxId) - p.deleteSpan)
          Delete(lo, lo + p.deleteSpan, amount(r))
      }
    }
  }

  // --------------------------------------------------------------- ann

  final case class AnnParams(
      dim: Int = 32,
      centers: Int = 16,
      corpus: Int = 1000,
      queries: Int = 100,
      delta: Int = 100,
      forget: Int = 20,
      noise: Double = 0.12,
      drift: Double = 0.3)

  final case class AnnData(corpus: IndexedSeq[(Long, Array[Double])],
      queries: IndexedSeq[(Long, Array[Double])],
      delta: IndexedSeq[(Long, Array[Double])], forget: IndexedSeq[Long])

  def ann(seed: Long, p: AnnParams = AnnParams()): AnnData = {
    val r = rng(seed, 4L)
    def gauss(n: Int, s: Double) = Array.fill(n)(r.nextGaussian() * s)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val centers = Array.fill(p.centers)(unit(gauss(p.dim, 1.0)))
    val shifted = centers.map(c => unit(c.zip(unit(gauss(p.dim, 1.0))).map { case (a, b) => a + p.drift * b }))
    def point(cs: Array[Array[Double]]) = {
      val c = cs(r.nextInt(cs.length)); val e = gauss(p.dim, p.noise)
      c.indices.map(i => c(i) + e(i)).toArray
    }
    val corpus = (0 until p.corpus).map(i => (i.toLong, point(centers)))
    val queries = (0 until p.queries).map(i => (i.toLong, point(centers)))
    val delta = (0 until p.delta).map(i => ((p.corpus + i).toLong, point(shifted)))
    val forget = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (s.size < p.forget) s += r.nextInt(p.corpus).toLong
      s.toIndexedSeq.sorted
    }
    AnnData(corpus, queries, delta, forget)
  }
}
